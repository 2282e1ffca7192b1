"""The repository's benchmark: seeded workloads driven through the
package's public functions, measured from outside (see README.md)."""

"""Streaming OUT of a transaction-log table: ``txlog_cdc`` source.

The inverse of :func:`.ingest.stream_ingest_to_txlog` (which streams INTO a
:class:`~..operators.txlog.TxTable`): a Spark 4 Python DataSource whose
stream offset is the TABLE VERSION, so each micro-batch is exactly the
change feed of the commits in ``(committed, latest]`` —
:meth:`TxTable.read_changes` semantics as a live feed (insert/delete-tagged
rows, transient files cancelled). This is the public Delta CDF-as-stream
pattern reduced to the local log: downstream consumers (sync jobs,
incremental materializations) follow the table without rescanning it.

Offsets are ABSOLUTE versions — deterministic, monotone, and restart-safe
by construction (unlike the weather stream's day counts, no option can
remap what a committed offset means), so a checkpointed query resumes at
the exact commit boundary it left off. ``startingVersion`` (Delta's option
name) picks where a FRESH query begins: its changes start at
``startingVersion + 1`` — i.e. the snapshot AT ``startingVersion`` is the
consumer's assumed base; default 0 (follow everything after the create
commit; the create's rows themselves are the version-0 snapshot a consumer
bootstraps from via ``TxTable.read(version=0)``).

Everything here runs WITHOUT a SparkSession: the log is one JSON-lines
file per version read with plain IO on the driver, and each partition is
ONE data file read with pyarrow on an executor — the planner never touches
row data, the workers never touch the log. Vacuumed files limit how far
back a fresh stream can start, exactly like Delta's CDF-vs-vacuum
contract (:meth:`TxTable.read_changes` documents it).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..operators.txproto import (check_protocol, merge_dv,
                                 parse_commit_lines, parse_partition_values)

_LOG_DIR = "_txlog"

# This stream's own reader capability: partition columns fill from
# partitionValues (reader 2) AND deletion vectors apply merge-on-read
# in the executor workers (reader 3) — the plain-IO tier reads
# everything the TxTable writers produce.
_READER_CAP = 4  # r14: column mapping (reader 4) understood
_CKPT = ".checkpoint.json"


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.json")


def _latest_version(table: str) -> int:
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        raise ValueError(f"{table} is not a txlog table (no {_LOG_DIR})")
    # f[:-5] (strip ".json") must be ALL digits: "…checkpoint.json"
    # snapshot files share the directory and must not parse as commits.
    versions = [int(f[:-5]) for f in os.listdir(log)
                if f.endswith(".json") and f[:-5].isdigit()]
    if not versions:
        raise ValueError(f"{table} has no commits")
    return max(versions)


def _read_commit(table: str, version: int) -> list[dict]:
    # Same tear-detecting parse as TxTable._read_commit: this runs inside
    # executor Python workers, and a torn commit folded silently here
    # would ship a wrong CDC batch with no error anywhere.
    with open(_log_path(table, version), encoding="utf-8") as fh:
        return parse_commit_lines(fh.read().splitlines(),
                                  f"{table}@v{version}")


def fold_snapshot(table: str, version: int | None = None,
                  reader_cap: int = _READER_CAP):
    """Plain-IO twin of ``TxTable._snapshot``: (version, meta, live,
    txns, protocol), folding forward from the newest checkpoint
    at-or-before the target version — session-free, so scan planning
    never needs a JVM. Deletion vectors accumulate INTO the folded add
    entries (``add["dv"]``), exactly like the TxTable fold. Raises
    ``TxProtocolError`` when the table's declared protocol exceeds
    ``reader_cap``."""
    latest = _latest_version(table)
    v = latest if version is None else version
    if not 0 <= v <= latest:
        raise ValueError(f"versionAsOf {v} out of range 0..{latest}")
    log = os.path.join(table, _LOG_DIR)
    ckpts = [int(f[:-len(_CKPT)]) for f in os.listdir(log)
             if f.endswith(_CKPT) and f[:-len(_CKPT)].isdigit()
             and int(f[:-len(_CKPT)]) <= v]
    meta: dict = {}
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    proto: dict = {}

    def fold(action: dict) -> None:
        if "meta" in action:
            meta.clear()
            meta.update(action["meta"])
        elif "add" in action:
            live[action["add"]["path"]] = action["add"]
        elif "remove" in action:
            live.pop(action["remove"]["path"], None)
        elif "dv" in action:
            cur = live.get(action["dv"]["path"])
            if cur is not None:
                live[action["dv"]["path"]] = {
                    **cur, "dv": merge_dv(cur.get("dv"), action["dv"])}
        elif "txn" in action:
            a, ver = action["txn"]["appId"], action["txn"]["version"]
            txns[a] = max(ver, txns.get(a, ver))
        elif "protocol" in action:
            proto.clear()
            proto.update(action["protocol"])

    start = 0
    for cv in sorted(ckpts, reverse=True):
        try:
            with open(os.path.join(log, f"{cv:020d}{_CKPT}"),
                      encoding="utf-8") as fh:
                actions = [json.loads(line) for line in fh if line.strip()]
            # count-trailer validation: a newline-boundary truncation
            # parses fine but silently omits live files — torn.
            if not actions or actions[-1].get("count") != len(actions) - 1:
                raise ValueError("torn checkpoint (count trailer)")
        except Exception:
            continue  # torn/unreadable checkpoint: older one or full fold
        for action in actions[:-1]:
            fold(action)
        start = cv + 1
        break
    for i in range(start, v + 1):
        for action in _read_commit(table, i):
            fold(action)
    if not meta:
        raise ValueError(f"{table}: no meta action found in the log")
    check_protocol(proto, f"{table} (plain-IO txlog source)",
                   reader=reader_cap)
    return v, meta, live, txns, proto


def _key_rows(table, key_cols, partition_values, n):
    """Per-row key tuples of an Arrow table, with hive partition columns
    (absent from file data) supplied as constants. Used only on
    TOMBSTONED files — the clean-file path stays fully vectorized."""
    cols = []
    pv = partition_values or {}
    names = set(table.column_names)
    for c in key_cols:
        if c in names:
            cols.append(table.column(c).to_pylist())
        else:
            cols.append([pv.get(c)] * n)
    return list(zip(*cols)) if cols else [()] * n


def _dv_mask(table, dv: dict, partition_values, keep_matching: bool):
    """Boolean Arrow mask selecting rows whose key tuple IS (semi) or IS
    NOT (anti) in the deletion vector. Single physical key columns take
    the vectorized ``is_in`` path; composite / partition-backed keys
    fall back to per-row tuples — bounded by the tombstoned file's rows,
    and only ever on tombstoned files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    key_cols = list(dv["keyCols"])
    if len(key_cols) == 1 and key_cols[0] in set(table.column_names):
        col = table.column(key_cols[0])
        vs = pa.array([k[0] for k in dv["keys"]]).cast(col.type)
        m = pc.fill_null(pc.is_in(col, value_set=vs), False)
        return m if keep_matching else pc.invert(m)
    keyset = {tuple(k) for k in dv["keys"]}
    rows = _key_rows(table, key_cols, partition_values, table.num_rows)
    return pa.array([(t in keyset) == keep_matching for t in rows])


def _table_schema(table: str) -> StructType:
    return StructType.fromJson(_table_meta(table)["schema"])


def _table_meta(table: str) -> dict:
    """Resolve the CURRENT table meta: the newest meta action wins (schema
    evolution via merge_schema writes a fresh meta in the evolving
    commit). Bounded scan: start from the newest checkpoint's meta (the
    checkpoint file carries the folded meta first) and only read the
    commits past it — same O(interval) contract as TxTable._snapshot,
    with plain IO only."""
    log = os.path.join(table, _LOG_DIR)
    latest = _latest_version(table)
    ckpts = [int(f[:-len(".checkpoint.json")]) for f in os.listdir(log)
             if f.endswith(".checkpoint.json")
             and f[:-len(".checkpoint.json")].isdigit()]
    meta: dict = {}
    proto: dict = {}
    start = 0
    for cv in sorted(ckpts, reverse=True):
        try:
            with open(os.path.join(log, f"{cv:020d}.checkpoint.json"),
                      encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        action = json.loads(line)
                        if "protocol" in action:
                            proto = action["protocol"]
                        if "meta" in action:
                            meta = action["meta"]
                            break  # protocol precedes meta in checkpoints
        except Exception:
            continue  # torn/unreadable checkpoint: older one or full scan
        start = cv + 1
        break
    for v in range(start, latest + 1):
        for action in _read_commit(table, v):
            if "meta" in action:
                meta = action["meta"]
            elif "protocol" in action:
                proto = action["protocol"]
    if not meta:
        raise ValueError(f"{table}: no meta action found in the log")
    # version gate: a protocol beyond this tier's declared capability
    # refuses loudly instead of folding a snapshot it cannot interpret
    check_protocol(proto, f"{table} (txlog_cdc stream)",
                   reader=_READER_CAP)
    return meta


@dataclass
class CdcFilePartition(InputPartition):
    file_path: str
    change_type: str  # 'insert' | 'delete'
    #: {col: typed value} for hive-partitioned tables (partition columns
    #: are not in the file data; parsed from the file's relative path,
    #: which add AND remove actions both carry)
    partition_values: dict | None = None
    #: deletion-vector scoping of THIS partition's rows:
    #:   None            — the whole file,
    #:   ("anti", dv)    — the file minus tombstoned keys (a removal of
    #:                     a tombstoned file emits only visible rows),
    #:   ("semi", dv)    — only tombstoned keys (a dv action emits
    #:                     exactly its newly deleted rows).
    dv_filter: tuple | None = None


class TxLogCdcStreamReader(DataSourceStreamReader):
    """Offset = {"version": N} — the last commit whose changes have been
    released. ``latestOffset`` re-lists the log each call, so commits
    published by any writer appear in the next micro-batch.

    ``maxVersionsPerTrigger`` (the Delta ``maxFilesPerTrigger`` analog at
    this source's natural grain) bounds each micro-batch to at most that
    many commits, so catching up a long history runs as bounded chunks
    instead of one giant batch — per-batch work stays ∝ the cap however
    far behind the consumer is. The limiter needs the committed offset
    as its floor; the Python DataSource API reveals it through the
    ``partitions(start, end)`` / ``commit(end)`` calls, from which the
    floor ratchets monotonically upward, seeded with ``startingVersion``
    (exactly the committed offset of a FRESH query). Restart safety is
    pinned by test against the engine's actual call order: Spark 4.1
    ALWAYS re-plans the checkpoint-restored offset range (a
    ``partitions`` call) before first asking ``latestOffset`` — even
    when the last batch fully committed — so the floor is learned from
    the true committed offset before the limiter ever answers, and
    ``min(latest, floor + cap) ≥ floor`` means a released offset can
    never regress."""

    def __init__(self, schema: StructType, options):
        path = options.get("path")
        if not path:
            raise ValueError("txlog_cdc requires option 'path'")
        self.table = path.rstrip("/")
        self.start = int(options.get("startingVersion", "0"))
        self.max_versions = int(options.get("maxVersionsPerTrigger", "0"))
        if self.max_versions < 0:
            raise ValueError("maxVersionsPerTrigger must be >= 1 (or 0 "
                             "for unbounded)")
        self._floor: int | None = None  # newest version known released
        self._answered: int | None = None  # last capped latestOffset
        latest = _latest_version(self.table)
        if not 0 <= self.start <= latest:
            raise ValueError(
                f"startingVersion {self.start} out of range 0..{latest}")
        meta = _table_meta(self.table)
        schema = StructType.fromJson(meta["schema"])
        self.fields = [f.name for f in schema.fields]
        self.partition_cols = meta.get("partition_cols") or []
        self.partition_types = {f.name: f.dataType.typeName()
                                for f in schema.fields}

    def _ratchet(self, version: int) -> None:
        if self._floor is None or version > self._floor:
            self._floor = version

    def initialOffset(self) -> dict:
        self._ratchet(self.start)
        return {"version": self.start}

    def latestOffset(self) -> dict:
        latest = _latest_version(self.table)
        if self.max_versions:
            floor = self.start if self._floor is None else self._floor
            ans = min(latest, floor + self.max_versions)
            if self._answered is not None:  # never regress within-process
                ans = max(ans, self._answered)
            self._answered = ans
            return {"version": ans}
        return {"version": latest}

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[CdcFilePartition]:
        # Defense for the limiter's restart contract (the floor is
        # learned from the engine's observed call order — Spark 4.1
        # always re-plans the restored range before asking
        # latestOffset): if a partitions call ever reveals a committed
        # offset ABOVE a previously answered capped latestOffset, the
        # engine changed that order and our capped answer regressed
        # below its checkpoint — fail LOUDLY instead of replaying or
        # skipping a committed window.
        if (self.max_versions and self._answered is not None
                and start["version"] > self._answered):
            raise RuntimeError(
                f"txlog_cdc maxVersionsPerTrigger: engine revealed "
                f"committed offset {start['version']} above the capped "
                f"latestOffset answer {self._answered} — the engine's "
                f"restart call order changed; restart the query without "
                f"maxVersionsPerTrigger to catch up safely")
        self._ratchet(start["version"])
        self._ratchet(end["version"])
        # Deletion-vector state tracked THROUGH the walk, seeded from
        # the window-start snapshot — the same event semantics as
        # TxTable.read_changes: a dv action emits exactly its newly
        # tombstoned rows; a data-changing remove of a tombstoned file
        # emits only its VISIBLE rows; layout-only swaps stay silent.
        _, _, state_live, _, _ = fold_snapshot(self.table,
                                               start["version"])
        dv_state = {p: a["dv"] for p, a in state_live.items()
                    if a.get("dv")}
        adds: list[str] = []
        removes: list[str] = []
        partial: list[tuple[str, dict]] = []   # removed w/ tombstones
        dv_dels: list[tuple[str, dict]] = []   # newly tombstoned keys
        for v in range(start["version"] + 1, end["version"] + 1):
            for action in _read_commit(self.table, v):
                # Same dataChange filter as TxTable.read_changes: a
                # compaction swap (optimize) moved rows between files
                # without changing the table — the stream stays quiet.
                if "add" in action:
                    dv_state.pop(action["add"]["path"], None)
                    if action["add"].get("dataChange", True):
                        adds.append(action["add"]["path"])
                elif "remove" in action:
                    rp = action["remove"]["path"]
                    dv = dv_state.pop(rp, None)
                    if action["remove"].get("dataChange", True):
                        if dv:
                            partial.append((rp, dv))
                        else:
                            removes.append(rp)
                elif "dv" in action:
                    d = action["dv"]
                    cur = dv_state.get(d["path"])
                    seen = ({tuple(k) for k in cur["keys"]}
                            if cur else set())
                    fresh = [list(k) for k in d["keys"]
                             if tuple(k) not in seen]
                    if fresh:
                        dv_dels.append((d["path"],
                                        {"keyCols": list(d["keyCols"]),
                                         "keys": fresh}))
                    dv_state[d["path"]] = merge_dv(cur, d)
        # Multiset netting (same fix as TxTable.read_changes): RESTORE
        # re-adds a removed path, so add/remove counts inside one window
        # can be unbalanced — net by Counter difference, never by set
        # intersection, or a remove + later re-add cancels to nothing.
        # (Partial removals never participate: their rows are not the
        # full file.)
        add_c, rem_c = Counter(adds), Counter(removes)

        def part(p: str, tag: str, dvf=None) -> CdcFilePartition:
            pv = None
            if self.partition_cols:
                # parse from the TRAILING key=value components so
                # shallow-cloned absolute paths parse identically to
                # table-relative ones
                depth = len(self.partition_cols) + 1
                tail = "/".join(p.split("/")[-depth:])
                pv = parse_partition_values(tail, self.partition_cols,
                                            self.partition_types)
            return CdcFilePartition(os.path.join(self.table, p), tag,
                                    pv, dvf)

        return ([part(p, "insert")
                 for p in sorted((add_c - rem_c).elements())]
                + [part(p, "delete")
                   for p in sorted((rem_c - add_c).elements())]
                + [part(p, "delete", ("anti", dv)) for p, dv in partial]
                + [part(p, "delete", ("semi", dv)) for p, dv in dv_dels])

    def read(self, partition: CdcFilePartition) -> Iterator:
        """Yield Arrow RecordBatches (vectorized engine ingest; same
        rationale + measurement as the batch source). Files written
        before a merge_schema widening lack the new columns — they
        null-fill with the TYPED arrow field; the change tag rides as
        one constant string column."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        meta = _table_meta(self.table)
        target = to_arrow_schema(StructType.fromJson(meta["schema"]))
        # column-mapped tables: files + dv keyCols speak PHYSICAL names;
        # the feed is emitted under the CURRENT logical names (same
        # to-version contract as TxTable.read_changes)
        cmap = meta.get("column_mapping") or {}
        table = pq.read_table(partition.file_path)
        if partition.dv_filter is not None:
            mode, dv = partition.dv_filter
            table = table.filter(_dv_mask(table, dv,
                                          partition.partition_values,
                                          keep_matching=(mode == "semi")))
        n = table.num_rows
        present = set(table.column_names)
        pv = partition.partition_values or {}
        cols = {}
        for i, name in enumerate(self.fields):
            typ = target.field(i).type
            pname = cmap.get(name, name)
            if pname in present:
                cols[name] = (table.column(pname).cast(typ)
                              .combine_chunks())
            elif name in pv and pv[name] is not None:
                # hive partition column: constant, typed from the path
                cols[name] = pa.array([pv[name]] * n).cast(typ)
            else:
                cols[name] = pa.nulls(n, type=typ)
        cols["_change_type"] = pa.array([partition.change_type] * n,
                                        type=pa.string())
        yield from pa.table(cols).to_batches()

    def commit(self, end: dict) -> None:  # engine owns progression
        self._ratchet(end["version"])


class TxLogCdcDataSource(DataSource):
    """``format("txlog_cdc")`` — follow a TxTable's change feed."""

    @classmethod
    def name(cls) -> str:
        return "txlog_cdc"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("txlog_cdc requires option 'path'")
        return _table_schema(path.rstrip("/")).add("_change_type", "string")

    def streamReader(self, schema: StructType) -> TxLogCdcStreamReader:
        return TxLogCdcStreamReader(schema, self.options)


def register(spark) -> None:
    """Register the source on the live session (idempotent)."""
    spark.dataSource.register(TxLogCdcDataSource)

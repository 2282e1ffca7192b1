"""Commit-file wire protocol for the txlog table format.

One concern, shared by every writer and reader of commit files: make a
TORN commit (the claim-then-write crash window on stores without an
atomic put-if-absent-with-content, ``txlog.TxTable._try_publish``)
*detectable* instead of silently corrupting the log. Local-path
publishes are atomic (tmp + hard link) and can never tear; the
non-local branch claims the version with ``create(overwrite=False)``
and then streams the payload, so a writer dying in between leaves a
claimed version whose file is empty or truncated — the documented
Delta-on-HDFS window (PROTOCOL.md "LogStore" in the public
delta-io/delta repo describes the same store requirement).

The defense is the same count-trailer discipline the checkpoint files
already use (``txlog.py write_checkpoint``): every commit payload ends
with ``{"commit": {"actions": N}}``. Tears are then detectable in all
three forms —

- **empty file** (died right after the claim): zero lines, no trailer;
- **mid-line tear** (died mid-stream): last line fails to JSON-parse;
- **line-boundary tear** (flushed a prefix of whole lines): every
  surviving line parses, but the trailer is gone — which is exactly why
  the trailer is REQUIRED, not optional: a trailer-less commit is
  indistinguishable from a boundary tear, so "legacy acceptance" would
  be a silent-corruption hole. This format owns its files end to end
  (no pre-trailer tables ship anywhere), so strictness costs nothing.

Readers raise :class:`TxCorruption` — loud, naming the repair — rather
than folding a wrong snapshot. Recovery is
``TxTable.repair_torn_commit``: the dead writer's ``_commit`` never
returned, so its actions were never acknowledged, and rewriting the
torn file as an explicit empty commit (trailer-only, ``repaired`` flag)
is the unique history consistent with what callers observed.

Stdlib-only on purpose: the streaming/batch DataSources parse commits
inside executor Python workers (``sources/txlog_stream.py``), where a
pyspark import chain would be dead weight.
"""

from __future__ import annotations

import json
import time

# Bumped when the commit-file wire format changes shape. v2 = the
# required count trailer. Folded into the on-disk artifact cache keys
# (weather star, ANN index) so caches written under an older protocol
# are rebuilt, not rejected.
TXPROTO_VERSION = 2

# ---------------------------------------------------------------- protocol
# The log-level protocol action (the public Delta ``protocol`` action,
# PROTOCOL.md "Protocol Evolution"): every table declares the MINIMUM
# reader/writer capability required to fold its log correctly, stamped
# at commit 0 and upgraded in the same atomic commit as the first use
# of a newer feature. Clients compare BEFORE acting and refuse with a
# named error instead of folding a snapshot they cannot interpret —
# the next wire-format change becomes a declared version gate, not a
# bet on parser strictness.
#
# Version ladder (this format's own history):
#   reader 1 / writer 2 — base: count-trailer commit wire format;
#   reader 2 / writer 2 — partitioned tables (``partitionValues`` on
#                         add actions; data files lack the partition
#                         columns, so a v1 reader would null-fill them);
#   reader 3 / writer 3 — deletion vectors (``dv`` actions; a v2
#                         reader would resurrect deleted rows, a v2
#                         writer would rewrite files without applying
#                         live DVs);
#   reader 4 / writer 4 — column mapping (the public Delta
#                         columnMapping 'name' mode: data files store
#                         PHYSICAL column names, ``meta["column_
#                         mapping"]`` maps logical→physical; a v3
#                         reader would surface physical names and miss
#                         renames/drops, a v3 writer would stage files
#                         under logical names old files don't share).
#   reader 4 / writer 5 — write-side invariants (generated columns,
#                         identity columns, the appendOnly property —
#                         the public Delta writer-feature trio): READS
#                         are unaffected (files are plain data), but a
#                         v4 writer would stage rows without computing
#                         generated columns, allocate no identity
#                         values / never advance the high-water mark,
#                         and delete from append-only tables — all
#                         silent invariant breaks, so writers gate.
SUPPORTED_READER = 4
SUPPORTED_WRITER = 5
BASE_PROTOCOL = {"minReader": 1, "minWriter": 2}
PARTITION_PROTOCOL = {"minReader": 2, "minWriter": 2}
DV_PROTOCOL = {"minReader": 3, "minWriter": 3}
COLMAP_PROTOCOL = {"minReader": 4, "minWriter": 4}
WRITE_FEATURES_PROTOCOL = {"minReader": 1, "minWriter": 5}


class TxProtocolError(RuntimeError):
    """The table's declared protocol exceeds this client's capability.

    Upgrade the client (or read through a TxTable of this package
    version, which supports everything it writes); never work around
    this error by parsing the log directly.
    """


def canon_temporal(v):
    """Canonicalize the two string spellings of a timestamp so stat
    compares stay SOUND: per-file stats store ``datetime.isoformat()``
    (``T`` separator), while hive partition directory values — and
    therefore ``partitionValues`` — use Spark's path form (space
    separator). ``T`` (0x54) sorts AFTER every digit while space (0x20)
    sorts before, so comparing the two spellings directly mis-orders
    equal instants — a prune built on that comparison can skip a
    matching file. Every stat-vs-partitionValue (and derived-bound)
    compare canonicalizes BOTH sides through this first; non-temporal
    values pass through untouched."""
    if (isinstance(v, str) and len(v) >= 11 and v[10] == "T"
            and v[4] == "-" and v[7] == "-"):
        return v[:10] + " " + v[11:]
    return v


def protocol_action(proto: dict) -> dict:
    return {"protocol": {"minReader": int(proto["minReader"]),
                         "minWriter": int(proto["minWriter"])}}


def needs_upgrade(current: dict | None, wanted: dict) -> bool:
    """True when a commit must carry a protocol action to raise the
    table's declared capability to ``wanted``. Tables created before
    the protocol action existed (current=None) are implicitly base."""
    cur = current or BASE_PROTOCOL
    return (int(cur.get("minReader", 1)) < wanted["minReader"]
            or int(cur.get("minWriter", 1)) < wanted["minWriter"])


def merged_protocol(current: dict | None, wanted: dict) -> dict:
    cur = current or BASE_PROTOCOL
    return {"minReader": max(int(cur.get("minReader", 1)),
                             wanted["minReader"]),
            "minWriter": max(int(cur.get("minWriter", 1)),
                             wanted["minWriter"])}


def check_protocol(proto: dict | None, where: str, *,
                   reader: int | None = None,
                   writer: int | None = None) -> None:
    """Raise :class:`TxProtocolError` when the table's declared protocol
    exceeds the CLIENT capability passed in ``reader``/``writer`` (None
    = the client is not acting in that role). A table with no protocol
    action (pre-protocol logs) is implicitly base and always passes."""
    if not proto:
        return
    need_r = int(proto.get("minReader", 1))
    need_w = int(proto.get("minWriter", 1))
    if reader is not None and need_r > reader:
        raise TxProtocolError(
            f"{where}: table requires minReader={need_r} but this client "
            f"supports reader version {reader}; refusing to fold a "
            f"snapshot it cannot interpret (upgrade the reading client)")
    if writer is not None and need_w > writer:
        raise TxProtocolError(
            f"{where}: table requires minWriter={need_w} but this client "
            f"supports writer version {writer}; refusing to publish a "
            f"commit that could corrupt invariants it does not know "
            f"(upgrade the writing client)")


# ------------------------------------------------------- partitioned paths
# Hive-path helpers shared by every client tier (TxTable planners and
# the plain-IO DataSources, which run inside executor Python workers —
# stdlib-only on purpose, like the rest of this module).

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def unquote_path(name: str) -> str:
    """Decode a scanned file path component (URI-escaped by Spark's
    ``input_file_name``) back to the on-disk relative path the log
    references. Hadoop escapes ``%`` itself when writing partition
    directories, so one unquote is exact."""
    from urllib.parse import unquote
    return unquote(name)


def partition_scalar(raw: str, type_name: str):
    """One hive directory-segment value → typed scalar, matching Spark's
    own path decoding (percent-unescape, the null sentinel) and the
    stat-value JSON domain — so ``partitionValues`` compare directly
    against batch bounds with no casts (dates/timestamps stay isoformat
    strings, whose lexicographic order IS chronological order)."""
    from urllib.parse import unquote
    val = unquote(raw)
    if val == _HIVE_NULL:
        return None
    if type_name in ("byte", "short", "integer", "long"):
        return int(val)
    if type_name in ("float", "double"):
        return float(val)
    if type_name == "boolean":
        return val.lower() == "true"
    return val


def parse_partition_values(relpath: str, pcols, types: dict) -> dict:
    """``{col: typed value}`` from a hive relative path
    ``c1=v1/c2=v2/file.parquet``. Loud on any mismatch — a silently
    misparsed partition value would mis-prune every keyed operation."""
    segs = relpath.split("/")[:-1]
    if len(segs) != len(pcols):
        raise ValueError(
            f"path {relpath!r} has {len(segs)} partition segment(s) but "
            f"the table declares partition columns {list(pcols)}")
    out = {}
    for col, seg in zip(pcols, segs):
        name, eq, raw = seg.partition("=")
        if not eq or name != col:
            raise ValueError(
                f"path segment {seg!r} of {relpath!r} does not match "
                f"declared partition column {col!r}")
        out[col] = partition_scalar(raw, types[col])
    return out


def merge_dv(cur: dict | None, new: dict) -> dict:
    """Union two deletion-vector key sets for one file — the fold step
    both tiers (``TxTable`` and the plain-IO DataSources) share. The
    key columns must match (enforced at commit); a second delete of an
    already-tombstoned key is deduplicated so CDC never double-emits
    it."""
    if cur is None:
        return {"keyCols": list(new["keyCols"]),
                "keys": [list(k) for k in new["keys"]]}
    if list(cur["keyCols"]) != list(new["keyCols"]):
        raise ValueError(
            f"deletion vectors on one file must share key columns "
            f"({cur['keyCols']} vs {new['keyCols']})")
    seen = {tuple(k) for k in cur["keys"]}
    merged = [list(k) for k in cur["keys"]]
    merged += [list(k) for k in new["keys"] if tuple(k) not in seen]
    return {"keyCols": list(cur["keyCols"]), "keys": merged}


_TRAILER_KEY = "commit"


class TxCorruption(RuntimeError):
    """A commit file is torn (empty / truncated / trailer mismatch).

    Raised instead of silently folding a wrong snapshot. After
    confirming no writer is in flight for that version, recover with
    ``TxTable.repair_torn_commit(version)``.
    """


def info_action(op: str, **extra) -> dict:
    """Commit provenance (the public Delta commitInfo shape, minimal):
    which operation produced the commit and when. Snapshot/CDC folds
    ignore unknown action keys; ``TxTable.describe_history`` surfaces
    it."""
    return {"info": {"op": op, "ts": round(time.time(), 3), **extra}}


def commit_payload(actions: list[dict]) -> str:
    """Serialize actions + the count trailer as the full commit file
    content. The trailer MUST be produced here (single choke point) so
    every publish path — batch DML, checkpoint-era appends, repairs —
    writes a tear-detectable file."""
    lines = [json.dumps(a, sort_keys=True) for a in actions]
    lines.append(json.dumps({_TRAILER_KEY: {"actions": len(actions)}},
                            sort_keys=True))
    return "\n".join(lines)


def repair_payload() -> str:
    """The canonical no-op commit a repair writes over a torn file:
    trailer-only, flagged for audit. Idempotent — repairing twice
    rewrites identical content."""
    return json.dumps({_TRAILER_KEY: {"actions": 0, "repaired": True}},
                      sort_keys=True)


def parse_commit_lines(raw_lines: list[str], where: str) -> list[dict]:
    """Validate + strip the trailer; return the action list.

    ``where`` names the file in errors (path@version). Raises
    :class:`TxCorruption` on any tear signature; never returns a
    partial action list.
    """
    lines = [ln for ln in raw_lines if ln.strip()]
    if not lines:
        raise TxCorruption(
            f"{where}: commit file is EMPTY — a writer died inside the "
            "claim-then-write window. If no writer is in flight for this "
            "version, run TxTable.repair_torn_commit() to convert it to "
            "an explicit no-op commit.")
    try:
        actions = [json.loads(ln) for ln in lines]
    except ValueError as exc:
        raise TxCorruption(
            f"{where}: commit file is TRUNCATED mid-record ({exc}) — a "
            "writer died inside the claim-then-write window. If no "
            "writer is in flight for this version, run "
            "TxTable.repair_torn_commit().") from exc
    trailer = actions[-1]
    if not (isinstance(trailer, dict) and _TRAILER_KEY in trailer):
        raise TxCorruption(
            f"{where}: commit file has no count trailer — either torn at "
            "a line boundary or written by a pre-v2 writer; both fold to "
            "the same evidence, so it is treated as torn. Repair with "
            "TxTable.repair_torn_commit() (pre-v2 logs: re-create the "
            "table; no shipped artifact predates v2).")
    declared = trailer[_TRAILER_KEY].get("actions")
    if declared != len(actions) - 1:
        raise TxCorruption(
            f"{where}: commit trailer declares {declared} actions but "
            f"{len(actions) - 1} are present — torn or tampered file; "
            "repair with TxTable.repair_torn_commit().")
    return actions[:-1]


def is_torn(raw_lines: list[str]) -> bool:
    """True iff the content shows a tear signature (repair precondition)."""
    try:
        parse_commit_lines(raw_lines, "probe")
    except TxCorruption:
        return True
    return False

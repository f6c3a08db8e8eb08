"""Manifest-based snapshot table: time travel + snapshot isolation over
plain parquet files (the Delta/Iceberg transaction-log shape, built from
first principles).

A table version is a MANIFEST — a JSON file listing exactly the data
files visible in that snapshot. Commits never mutate data files:

* ``commit_append(df)``  — write new files, manifest N+1 = manifest N +
  new files.
* ``commit_rewrite(df)`` — write replacement files, manifest N+1 = the
  new files only (the compaction/OPTIMIZE commit: same rows, new layout).

* ``commit_replace(remove, df)`` — surgical rewrite of only the files
  that contain affected rows (the DELETE/UPDATE primitive).

* ``delete_where(predicate)`` — MERGE-ON-READ delete via DELETION
  VECTORS: data files stay byte-identical; the commit adds per-file
  row-position sidecars (``dv`` in the manifest) that every reader
  anti-joins away. Point deletes (the GDPR shape) cost O(deleted rows),
  not O(bytes of every touched file) — the Delta/Iceberg DV design.
  ``materialize_deletes()`` folds DVs back into rewritten files.

* ``rename_column(old, new)`` / ``drop_column(name)`` — METADATA-ONLY
  schema evolution through a field-id map in the manifest (Iceberg
  semantics): zero data files touched; readers map each field id's
  historical physical names onto its current name, so files written
  before a rename read back under the new name instead of as drop+add.

Readers resolve a manifest first and read ONLY its files, so a reader of
version N is never affected by later appends, rewrites, or compactions —
snapshot isolation by construction — and old versions stay readable until
``vacuum`` garbage-collects files unreachable from the retention window.

Scale notes: the manifest is metadata (1 line per file — ~100k entries at
100 TB with 1 GB files); commit cost is O(new files), never O(table).
The atomic step is the manifest publish: EXCLUSIVE create of
``v{N}.json`` on top of the version the writer read, so racing writers
get ``CommitConflict`` instead of a lost update (optimistic concurrency;
on S3 the equivalent is a conditional put on the manifest key, exactly
as Delta's log store does). Data files are immutable, so a failed commit
leaves only unreferenced files, never a corrupt table.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def _json_scalar_value(v):
    """Parquet-footer stat -> JSON-storable, order-preserving scalar:
    bytes decode (BYTE_ARRAY stats), datetimes/dates go ISO (ISO strings
    compare lexicographically in timeline order).

    TZ-AWARE datetimes normalize to NAIVE UTC before formatting: footer
    stats of ntz-written files render naive ('...T00:00:00') while a
    pushed filter literal can arrive tz-aware and would render with a
    '+00:00' suffix — and in the string domain
    '2022-06-02T00:00:00' < '2022-06-02T00:00:00+00:00' (prefix order),
    so an equality literal on a file whose max EQUALS it read as
    "max < lo" and wrongly pruned the row group — silent lost rows on
    any timestamp-boundary predicate. One domain (naive UTC) on both
    sides makes the lexicographic order the timeline order again."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if hasattr(v, "isoformat"):
        tz = getattr(v, "tzinfo", None)
        if tz is not None:
            import datetime as _dt

            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v


#: stat-key suffix for per-file null accounting: ``c#nulls`` banks
#: ``[null_count, num_rows]`` next to ``c``'s ``[min, max]`` — IS NULL
#: prunes files with zero nulls, IS NOT NULL prunes all-null files
NULLS_SUFFIX = "#nulls"


def _footer_stats_one(path: str, cols: list[str]) -> dict[str, list]:
    """Footer stats for one file (module-level so the distributed stats
    path can ship it to executors): ``[min, max]`` under the column name
    plus ``[null_count, num_rows]`` under ``name#nulls`` (requesting
    either form banks both — the backfill path asks by banked key)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    # Key physical columns by their DOTTED PATH, not the leaf name: a
    # struct field ``s.b`` has leaf name ``b`` and would otherwise shadow
    # a top-level column ``b``, banking min/max from the WRONG physical
    # column — silent mispruning that loses rows. Requested stats_cols
    # are top-level names, so they only ever match path == name.
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    st: dict[str, list] = {}
    for req in {c.removesuffix(NULLS_SUFFIX) for c in cols}:
        if req not in idx:
            continue
        mins: list = []
        maxs: list = []
        nulls = 0
        ok = nulls_ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx[req]).statistics
            if s is None:
                ok = nulls_ok = False
                break
            if s.has_min_max:
                mins.append(_json_scalar_value(s.min))
                maxs.append(_json_scalar_value(s.max))
            else:
                ok = False
            if s.null_count is None:
                nulls_ok = False
            else:
                nulls += s.null_count
        if ok and mins:
            st[req] = [min(mins), max(maxs)]
        if nulls_ok:
            st[req + NULLS_SUFFIX] = [nulls, md.num_rows]
    return st


def _footer_num_rows(path: str) -> int:
    """One file's row count from its parquet footer — module-level so
    the distributed metadata_count path can ship it to executors."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _physical_drift_one(
    path: str, hist: set, banked: dict, cur_of: dict
) -> tuple[bool, str | None]:
    """Whether ONE file's footer schema drifted from the current
    logical schema: a historical physical name present (pre-rename era
    or dropped-field bytes), or a banked-width column stored narrower.
    Module-level so REWRITE PHYSICAL's detection sweep ships it to
    executors past ``DISTRIBUTED_STATS_THRESHOLD``. Returns
    ``(drifted, err)`` — ``err`` names a cross-family type the rewrite
    cannot represent (the driver raises, never half-rewrites)."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    phys = from_arrow_schema(pq.ParquetFile(path).schema_arrow)
    for fld in phys.fields:
        if fld.name in hist:
            return True, None
        want = banked.get(cur_of.get(fld.name, fld.name))
        if want is None:
            continue
        got = fld.dataType.simpleString().lower()
        if got == want:
            continue
        try:
            ok = widen_merge(got, want) == want
        except ValueError:
            ok = False
        if not ok:
            return True, (
                f"column {fld.name!r}: {got} in "
                f"{os.path.basename(path)} does not widen to the "
                f"banked {want}"
            )
        return True, None
    return False, None


# ------------------------------------------------- bloom file index --
# Per-file Bloom filters (Delta's bloom filter index): point lookups on
# HIGH-CARDINALITY columns whose values interleave across files — the
# case where zone maps prune nothing because every file's [min, max]
# spans the whole domain. A bloom answers "definitely absent" per file;
# false positives waste one file read, false negatives are impossible
# as long as the write path and the read path encode values identically
# (_bloom_encode is that single shared encoding).

def _bloom_canonical(value):
    """Canonical Python value shared by bloom build and probe: integral
    floats collapse to int (parquet int/float domain drift). The
    CANONICAL TYPE NAME is also banked per sidecar so a probe in a
    different value domain (e.g. an int literal against a Decimal
    column, where str() forms differ) degrades to a conservative keep
    instead of a false negative."""
    if isinstance(value, float) and value.is_integer():
        return int(value)
    return value


def _bloom_encode(value) -> bytes:
    """Canonical byte encoding shared by bloom build and bloom probe —
    the no-false-negatives invariant lives here. Collisions across
    types (int 5 vs str "5") only add false positives, never lose
    rows."""
    value = _bloom_canonical(value)
    if isinstance(value, bytes):
        return value
    if isinstance(value, bool):
        return b"t" if value else b"f"
    return str(value).encode("utf-8")


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (bits, hashes) for ``n`` values at false-positive rate
    ``fpp`` — the standard Bloom sizing formulas."""
    import math

    n = max(1, n)
    m = max(8, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _bloom_positions(value, m: int, k: int):
    """k bit positions via double hashing of one sha256 — deterministic
    across Python versions and executors (no PYTHONHASHSEED exposure)."""
    import hashlib

    d = hashlib.sha256(_bloom_encode(value)).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build_one(
    path: str, names: list[str], fpp: float, index_dir: str
) -> tuple[str, str]:
    """Build one data file's bloom sidecar for one logical column
    (``names`` = its physical alias group; rows coalesce across the
    aliases present). Module-level and self-contained so the build fans
    out as a Spark job over the file list — each task reads ONE column
    of ONE file (columnar projection, never the whole row) and writes a
    KB-scale sidecar. Returns (data_file, sidecar_path)."""
    import base64
    import hashlib
    import json as _json
    import os as _os

    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    present = [n for n in names if n in pf.schema_arrow.names]
    values: list = []
    if present:
        cols = pf.read(columns=present)
        lists = [cols.column(n).to_pylist() for n in present]
        for row in zip(*lists):
            v = next((x for x in row if x is not None), None)
            if v is not None:
                values.append(v)
    m, k = _bloom_params(len(values), fpp)
    bits = np.zeros(m, dtype=bool)
    kinds: set[str] = set()
    for v in values:
        bits[_bloom_positions(v, m, k)] = True
        kinds.add(type(_bloom_canonical(v)).__name__)
    payload = {
        "col": names[0],
        "aliases": names,
        "m": m,
        "k": k,
        "kinds": sorted(kinds),
        "b64": base64.b64encode(np.packbits(bits).tobytes()).decode(),
    }
    sidecar = _os.path.join(
        index_dir,
        hashlib.sha256(
            f"{path}|{names[0]}".encode()
        ).hexdigest()[:24]
        + ".bloom.json",
    )
    tmp = sidecar + ".tmp"
    with open(tmp, "w") as f:
        _json.dump(payload, f)
    _os.replace(tmp, sidecar)
    return path, sidecar


def _bloom_might_contain(sidecar: str, value) -> bool:
    """Probe one sidecar; any read problem = conservative True (a
    bloom may waste a read, never lose a row)."""
    import base64
    import json as _json

    import numpy as np

    try:
        with open(sidecar) as f:
            p = _json.load(f)
        kinds = p.get("kinds")
        if (
            kinds
            and type(_bloom_canonical(value)).__name__ not in kinds
        ):
            return True  # cross-domain probe: cannot trust "absent"
        bits = np.unpackbits(
            np.frombuffer(base64.b64decode(p["b64"]), dtype=np.uint8)
        )[: p["m"]]
        return all(
            bits[i] for i in _bloom_positions(value, p["m"], p["k"])
        )
    except Exception:
        return True


#: Format protocol this library can read/write (the Delta protocol
#: versioning idea): manifests record the MINIMUM reader/writer version
#: their features require, and ``load_manifest`` refuses tables whose
#: requirement exceeds what this reader supports — an old reader fails
#: LOUDLY instead of silently mis-reading a table whose deletion
#: vectors or field-id renames it doesn't understand.
SUPPORTED_READER_VERSION = 3
SUPPORTED_WRITER_VERSION = 2


def _required_reader_version(extra: dict | None) -> int:
    """Reader version a manifest's features demand: deletion vectors
    and field-id schema maps change READ results (ignoring them loses
    or resurrects rows / misnames columns) → 2; widened column types
    (a mergeSchema reader CRASHES on the mixed-width files) and row
    tracking (a naive reader would surface the hidden physical
    ``__row_id`` column of rewritten files) → 3; plain file lists → 1.
    txn / constraints / stats are writer-side concerns — readers that
    ignore them still read correct rows."""
    if extra and (extra.get("types") or extra.get("row_tracking")):
        return 3
    if extra and (extra.get("dv") or extra.get("schema") is not None):
        return 2
    return 1


class ProtocolError(Exception):
    """The table's manifest requires a newer reader than this library —
    upgrade instead of mis-reading (Delta's protocol check)."""


class CommitConflict(Exception):
    """Another writer published this version first — re-read the table
    state and retry (optimistic concurrency, the Delta log protocol)."""


class LogTruncated(Exception):
    """The requested version's manifest has been vacuumed past — the
    reader's cursor predates the retention window. A change-feed consumer
    seeing this must RE-BOOTSTRAP (full read at head + fresh cursor);
    there is no way to reconstruct the missed deltas."""


# ---------------------------------------------------------- log access --
# Module-level manifest access so other readers of the log (the pysnapshot
# DataSource connector in sources/pyds.py) share ONE implementation of
# manifest resolution and zone-map overlap — a manifest format change or a
# pruning fix lands here and everywhere at once.

#: Write a consolidated log checkpoint every N commits (the Delta
#: ``_last_checkpoint`` shape): the checkpoint banks the head manifest's
#: full state plus the precomputed history/timestamp index of every
#: readable version, so head resolution, ``history()`` and
#: ``version_as_of`` stop being linear in total version count. A
#: streaming table committing once a minute for a year (~500k versions)
#: pays O(versions-since-checkpoint), not O(500k), on every table open.
CHECKPOINT_INTERVAL = 10

#: Log-access instrumentation: how many manifest JSONs / directory
#: listings / checkpoint reads the process has issued — the observable
#: the checkpoint layer exists to shrink (asserted by the
#: ``src_log_checkpoint`` registry row and the checkpoint tests).
LOG_METRICS = {
    "manifest_reads": 0,
    "listdir_scans": 0,
    "checkpoint_reads": 0,
    "checkpoint_part_reads": 0,
}

#: per-phase wall timings of the most recent ``merge_mor`` call —
#: the MOR merge is the table layer's cost center (BENCH table-format
#: block), and a single total hides which staged pass dominates.
#: Reset at each merge entry; read by bench.py's tf_merge_mor_phases.
MERGE_METRICS: dict[str, float] = {}


def _pointer_path(root: str) -> str:
    return os.path.join(root, "_manifests", "_last_checkpoint.json")


def _read_pointer(root: str) -> dict | None:
    """The head/checkpoint pointer — a CACHE, never the commit itself:
    corrupt or missing falls back to the full directory listing."""
    try:
        with open(_pointer_path(root)) as f:
            p = json.load(f)
        return p if isinstance(p, dict) else None
    except (FileNotFoundError, NotADirectoryError, json.JSONDecodeError):
        return None


def _advance_pointer(
    root: str, head: int, checkpoint: int | None = None
) -> None:
    """Best-effort, monotone pointer update AFTER a successful publish
    (the exclusive manifest create stays the one atomic commit step; a
    lost pointer update merely lengthens the next reader's probe). The
    write is tmp + rename so readers never see a torn JSON."""
    try:
        cur = _read_pointer(root) or {}
        new_head = max(int(cur.get("head", 0)), head)
        ck = cur.get("checkpoint")
        new_ck = max(
            int(ck) if ck is not None else 0, checkpoint or 0
        ) or None
        if new_head == cur.get("head") and new_ck == ck:
            return
        tmp = _pointer_path(root) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"head": new_head, "checkpoint": new_ck}, f)
        os.replace(tmp, _pointer_path(root))
    except OSError:
        pass  # pointer is advisory; the listing fallback still works


def latest_version(root: str) -> int:
    """Head resolution: O(1 + commits-since-pointer) file stats via the
    ``_last_checkpoint`` pointer — probe forward from the pointed head
    until the next manifest is absent — with the full directory listing
    as the fallback for tables that predate pointers (or whose pointer
    is stale/corrupt). The probe can only land AT or PAST the pointer,
    and a racing commit at worst makes the result one version stale —
    exactly the guarantee a listing gives under races too."""
    mdir = os.path.join(root, "_manifests")
    ptr = _read_pointer(root)
    if ptr is not None:
        try:
            v = int(ptr.get("head", 0))
        except (TypeError, ValueError):
            v = 0
        if v > 0 and os.path.isfile(os.path.join(mdir, f"v{v}.json")):
            while os.path.isfile(os.path.join(mdir, f"v{v + 1}.json")):
                v += 1
            return v
    LOG_METRICS["listdir_scans"] += 1
    vs = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
        and f[1:-5].isdigit()
    ]
    return max(vs, default=0)


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(root, "_manifests", f"ckpt_v{version}.json")


#: rows per parquet STATE PART. The history axis is capped by
#: ``CHECKPOINT_HISTORY_WINDOW``; the state axis (one row per LIVE file
#: — ~100k at 100 TB with 1 GB files) is written as multi-part PARQUET
#: sidecars instead of inline JSON (Delta's multi-part checkpoint
#: shape): columnar, compressed, and splittable, so a reader — or a
#: distributed planner — can consume the live-file set part-by-part
#: instead of parsing one monolithic ever-rewritten JSON blob. The JSON
#: checkpoint keeps only metadata-scale keys + the part list.
CHECKPOINT_STATE_PART_ROWS = 100_000

#: autoCompact defaults (armed per table by the ``auto.compact``
#: property; each overridable by ``auto.compact.small.bytes`` /
#: ``auto.compact.target.bytes`` / ``auto.compact.min.files``): a
#: partition an append just touched compacts when it holds at least
#: MIN_FILES files under SMALL_BYTES, bin-packing into TARGET_BYTES
#: outputs — Delta's autoCompact thresholds.
AUTO_COMPACT_SMALL_BYTES = 32 << 20
AUTO_COMPACT_TARGET_BYTES = 128 << 20
AUTO_COMPACT_MIN_FILES = 8

#: newest below-window manifests VACUUM reads to build the
#: ever-referenced set (the committed/in-flight discriminator for the
#: orphan grace): far enough that any file referenced ONLY beyond it is
#: ancient and collects via the mtime branch anyway.
VACUUM_EVER_WALK_CAP = 10_000

#: VACUUM's protection window for files NO readable manifest has ever
#: referenced: they may be a concurrent writer's staged-but-unpublished
#: files (data lands before the manifest publish), so they only collect
#: once older than this (mtime-based, wall-clock). Files that aged out
#: of the log are provably dead and collect immediately regardless.
#: Delta's vacuum retention-check / Iceberg remove_orphan_files
#: ``older_than`` default, sized down from their 7 days.
VACUUM_ORPHAN_GRACE_SECONDS = 24 * 3600.0

#: manifest keys that scale with the live-file count — these move to
#: the parquet state parts; everything else (schema map, spec, props,
#: protocol, constraints, ...) is metadata-scale and stays JSON.
_STATE_FILE_AXES = ("files", "stats", "dv", "sizes", "row_ids", "blooms")


def _state_part_path(root: str, version: int, i: int) -> str:
    return os.path.join(
        root, "_manifests", f"ckpt_v{version}.state.{i:04d}.parquet"
    )


def _write_state_parts(root: str, version: int, state: dict) -> list[str]:
    """Bank the per-file axes of ``state`` as parquet part files; returns
    the part file names. One row per live file: (path, stats json, dv
    json, size, row_ids json, blooms json) — json-encoded cells keep
    the parquet schema fixed while the banked shapes stay schema-free,
    exactly like the manifest itself. Blooms invert from the
    manifest's col→file→sidecar to per-file {col: sidecar} rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = list(state.get("files") or [])
    stats = state.get("stats") or {}
    dv = state.get("dv") or {}
    sizes = state.get("sizes") or {}
    row_ids = state.get("row_ids") or {}
    per_file_blooms: dict[str, dict] = {}
    for col, percol in (state.get("blooms") or {}).items():
        for f, sidecar in percol.items():
            per_file_blooms.setdefault(f, {})[col] = sidecar
    parts: list[str] = []
    n = max(1, CHECKPOINT_STATE_PART_ROWS)
    for i in range(0, max(len(files), 1), n):
        chunk = files[i : i + n]
        tbl = pa.table(
            {
                "path": pa.array(chunk, type=pa.string()),
                "stats": pa.array(
                    [
                        json.dumps(stats[f]) if f in stats else None
                        for f in chunk
                    ],
                    type=pa.string(),
                ),
                "dv": pa.array(
                    [
                        json.dumps(dv[f]) if dv.get(f) else None
                        for f in chunk
                    ],
                    type=pa.string(),
                ),
                "size": pa.array(
                    [sizes.get(f) for f in chunk], type=pa.int64()
                ),
                "row_ids": pa.array(
                    [
                        json.dumps(row_ids[f])
                        if f in row_ids
                        else None
                        for f in chunk
                    ],
                    type=pa.string(),
                ),
                "blooms": pa.array(
                    [
                        json.dumps(per_file_blooms[f])
                        if f in per_file_blooms
                        else None
                        for f in chunk
                    ],
                    type=pa.string(),
                ),
            }
        )
        dst = _state_part_path(root, version, len(parts))
        tmp = dst + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, dst)
        parts.append(os.path.basename(dst))
    return parts


def _load_state_parts(root: str, c: dict) -> dict | None:
    """Reassemble the head-manifest state from a multi-part checkpoint;
    None if any part is missing/unreadable (degrade to manifest walk)."""
    import pyarrow.parquet as pq

    state = dict(c.get("state_meta") or {})
    files: list[str] = []
    stats: dict = {}
    dv: dict = {}
    sizes: dict = {}
    row_ids: dict = {}
    blooms: dict = {}
    # armed-but-empty bloom columns keep their skeleton entries
    for col in state.get("bloom_cols") or {}:
        blooms[col] = {}
    for part in c.get("state_parts") or []:
        tbl = pq.read_table(
            os.path.join(root, "_manifests", part)
        ).to_pydict()
        LOG_METRICS["checkpoint_part_reads"] += 1
        files.extend(tbl["path"])
        for f, s, d, sz, rid, bl in zip(
            tbl["path"],
            tbl["stats"],
            tbl["dv"],
            tbl.get("size", [None] * len(tbl["path"])),
            tbl.get("row_ids", [None] * len(tbl["path"])),
            tbl.get("blooms", [None] * len(tbl["path"])),
        ):
            if s is not None:
                stats[f] = json.loads(s)
            if d is not None:
                dv[f] = json.loads(d)
            if sz is not None:
                sizes[f] = int(sz)
            if rid is not None:
                row_ids[f] = json.loads(rid)
            if bl is not None:
                for col, sidecar in json.loads(bl).items():
                    blooms.setdefault(col, {})[f] = sidecar
    state["files"] = files
    state["stats"] = stats
    state["dv"] = dv
    if sizes:
        state["sizes"] = sizes
    if row_ids:
        state["row_ids"] = row_ids
    if blooms:
        state["blooms"] = blooms
    state.setdefault("schema", None)
    return state


def load_checkpoint(root: str) -> dict | None:
    """The newest consolidated checkpoint (via the pointer), or None.
    Shape: ``{"version": K, "state": <full manifest dict of K>,
    "history": [[v, ts, op, n_files, n_added, n_removed, n_dv], ...]}``
    over every version readable when it was written. On disk the state's
    per-file axes live in parquet part files (``state_parts``) and are
    reassembled here; pre-part checkpoints with inline ``state`` still
    load. A cache: any read failure degrades to the manifest-walk
    paths."""
    ptr = _read_pointer(root)
    ck = (ptr or {}).get("checkpoint")
    if not ck:
        return None
    try:
        with open(_checkpoint_path(root, int(ck))) as f:
            c = json.load(f)
        LOG_METRICS["checkpoint_reads"] += 1
        if not isinstance(c, dict) or "version" not in c:
            return None
        if "state" not in c and "state_parts" in c:
            c["state"] = _load_state_parts(root, c)
        return c
    except (OSError, ValueError, json.JSONDecodeError, KeyError):
        return None


def _history_row(m: dict, v: int, prev_files: set) -> list:
    cur = set(m["files"])
    return [
        v,
        float(m["ts"]) if m.get("ts") is not None else None,
        m.get("op") or "UNKNOWN",
        len(cur),
        len(cur - prev_files),
        len(prev_files - cur),
        sum(1 for dv in m["dv"].values() if dv),
    ]


#: newest history rows a checkpoint banks — the cap that keeps the
#: checkpoint byte size FLAT in the version dimension (a minutely-
#: committing table reaches ~500k versions/year; an unbounded index
#: would make every 10-commit checkpoint rewrite a multi-MB, ever-
#: growing JSON). Rows below the banked ``history_floor`` stay
#: available through the ordinary manifest walk — the cap trades one
#: longer cold walk on deep-history queries for O(1) checkpoint
#: writes, never correctness (checkpoints are caches).
CHECKPOINT_HISTORY_WINDOW = 1024


def write_checkpoint(root: str, version: int) -> None:
    """Consolidate the log through ``version``: extend the previous
    checkpoint's history index with the manifests committed since it
    (O(interval) reads, amortized ~1 per commit), trim the index to
    the newest ``CHECKPOINT_HISTORY_WINDOW`` rows (``history_floor``
    marks the oldest banked version — consumers walk manifests below
    it), and bank ``version``'s full manifest as the diff base for the
    next extension. Last-wins replace — checkpoints are caches derived
    from the readable log, so a racing writer's copy is equally valid.
    Failures are swallowed: a missing checkpoint costs a longer walk,
    never correctness."""
    prev = load_checkpoint(root)
    if prev is not None and int(prev["version"]) >= version:
        return
    hist: list[list] = []
    prev_files: set[str] = set()
    start = 1
    if prev is not None:
        hist = [list(r) for r in prev.get("history", [])]
        prev_files = set((prev.get("state") or {}).get("files", []))
        start = int(prev["version"]) + 1
    state: dict | None = None
    for v in range(start, version + 1):
        try:
            m = load_manifest(root, v)
        except (LogTruncated, ProtocolError):
            continue
        hist.append(_history_row(m, v, prev_files))
        prev_files = set(m["files"])
        if v == version:
            state = m
    if state is None:
        return  # head manifest unreadable: nothing to consolidate
    if len(hist) > CHECKPOINT_HISTORY_WINDOW:
        hist = hist[-CHECKPOINT_HISTORY_WINDOW:]
    # the per-file axes go to parquet part files (written first — the
    # JSON referencing them is the publish step; orphaned parts from a
    # crash here are reclaimed by the next superseding checkpoint)
    parts = _write_state_parts(root, version, state)
    tmp = _checkpoint_path(root, version) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "state_meta": {
                    k: v
                    for k, v in state.items()
                    if k not in _STATE_FILE_AXES
                },
                "state_parts": parts,
                "state_rows": len(state.get("files") or []),
                "history": hist,
                "history_floor": int(hist[0][0]) if hist else None,
            },
            f,
        )
    os.replace(tmp, _checkpoint_path(root, version))
    _advance_pointer(root, version, checkpoint=version)
    # older checkpoints (and their state parts) are superseded — reclaim
    mdir = os.path.join(root, "_manifests")
    for fn in os.listdir(mdir):
        if fn.startswith("ckpt_v"):
            digits = fn[len("ckpt_v"):]
            digits = digits[: next(
                (i for i, ch in enumerate(digits) if not ch.isdigit()),
                len(digits),
            )]
            if not digits:
                continue
            if int(digits) < version:
                try:
                    os.unlink(os.path.join(mdir, fn))
                except OSError:
                    pass


def load_manifest(root: str, version: int) -> dict:
    """The manifest dict {version, files, stats}; raises LogTruncated if
    the version has been vacuumed away."""
    path = os.path.join(root, "_manifests", f"v{version}.json")
    LOG_METRICS["manifest_reads"] += 1
    try:
        with open(path) as f:
            m = json.load(f)
    except FileNotFoundError:
        raise LogTruncated(
            f"version {version} predates the retention window "
            f"(manifest {path} vacuumed) — re-bootstrap from head"
        ) from None
    proto = m.get("protocol") or {}
    if proto.get("reader", 1) > SUPPORTED_READER_VERSION:
        raise ProtocolError(
            f"manifest v{version} requires reader version "
            f"{proto['reader']}; this library supports "
            f"{SUPPORTED_READER_VERSION} — upgrade before reading"
        )
    m.setdefault("stats", {})
    m.setdefault("dv", {})      # data file -> [deletion-vector sidecars]
    m.setdefault("schema", None)  # field-id map (None = physical names)
    return m


def publish_version(
    root: str,
    files: list[str],
    base_version: int,
    stats: dict[str, dict[str, list]] | None = None,
    extra: dict | None = None,
    ts: float | None = None,
) -> int:
    """Atomically publish version ``base_version + 1`` with optimistic
    concurrency: commits target the version ON TOP OF THE SNAPSHOT THE
    WRITER READ, and the manifest is created exclusively (hard-link of a
    temp file onto the version name — fails if it exists), so of two
    racing writers exactly ONE wins and the other gets ``CommitConflict``
    to re-read and retry — a lost update is impossible. On S3 the
    equivalent is a conditional put (If-None-Match) on the manifest key,
    Delta's log protocol. Module-level so every log writer —
    ``SnapshotTable`` and the pysnapshot DataSourceWriter — shares one
    commit protocol.

    Every manifest banks a COMMIT TIMESTAMP (``ts``, epoch seconds;
    injectable for deterministic tests) — the anchor for TIMESTAMP AS OF
    time travel and the CDF ``_commit_timestamp`` column. Like Delta,
    the timestamp is assigned by the writer at publish time, so it is
    monotone per table only as far as writers' clocks are."""
    import time

    v = base_version + 1
    path = os.path.join(root, "_manifests", f"v{v}.json")
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": v,
                "files": files,
                "stats": stats or {},
                "ts": time.time() if ts is None else ts,
                "protocol": {
                    "reader": _required_reader_version(extra),
                    "writer": SUPPORTED_WRITER_VERSION,
                },
                **(extra or {}),
            },
            f,
        )
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(
            f"version {v} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)
    # head pointer + periodic checkpoint ride AFTER the commit, never
    # instead of it: the exclusive link above is the atomic step, these
    # are best-effort caches (a crash here costs the next reader a
    # longer probe/walk, never a lost or torn commit)
    _advance_pointer(root, v)
    if v % CHECKPOINT_INTERVAL == 0:
        try:
            write_checkpoint(root, v)
        except Exception:
            pass
    return v


#: distinct "not passed" sentinel for carry_forward's overrides:
#: ``None`` is a MEANINGFUL value (omit the family — e.g. restore/clone
#: publishing a version that predates the first rename must drop the
#: head's schema map, not inherit it)
_UNSET = object()

#: manifest keys a commit never carries: publish_version writes the
#: positional ones itself and ``op`` labels one commit only
_UNCARRIED = ("version", "files", "stats", "ts", "protocol", "op")

#: families whose EMPTY value still means something and is banked: an
#: empty transform-key record says "every path key is identity", while
#: no record sends pruning to the legacy name heuristic
_KEEP_EMPTY = ("schema", "transform_keys")


def carry_forward(
    base: dict,
    files: list[str],
    op: str | None = None,
    txn_update: dict | None = None,
    copied_update: dict | None = None,
    row_ids_seed: dict | None = None,
    **overrides,
) -> dict:
    """The ``extra`` dict of a commit publishing ``files`` on top of the
    ``base`` manifest — the ONE carry-forward rule every log writer
    (``SnapshotTable._publish`` and the pysnapshot connector) applies:

    * every key ``base`` banks carries, except ``_UNCARRIED``;
    * an override (keyed by manifest key; ``_UNSET`` = not passed)
      replaces the carried value; ``None`` or empty omits the family
      (``_KEEP_EMPTY`` families are omitted only by ``None``);
    * ``txn_update`` / ``copied_update`` merge into the streaming txn
      map and the COPY INTO ledger (replay detection must survive
      every interleaved commit);
    * the per-file maps (``dv``, ``blooms``, ``sizes``, ``row_ids``)
      keep only visible files; a new file's byte size is stat'ed once
      here, and under row tracking it draws a fresh
      ``[base_row_id, num_rows]`` range past the watermark
      (``row_ids_seed`` re-publishes a restored/cloned file's range).

    Pure apart from the O(new files) size stats and footer row counts."""
    extra = {k: v for k, v in base.items() if k not in _UNCARRIED}
    extra.update((k, v) for k, v in overrides.items() if v is not _UNSET)
    for k, upd in (("txn", txn_update), ("copied", copied_update)):
        if upd:
            extra[k] = {**(extra.get(k) or {}), **upd}
    visible = set(files)
    for k in ("dv", "blooms"):
        extra[k] = {
            f: v for f, v in (extra.get(k) or {}).items()
            if f in visible and v
        }
    carried_sizes = extra.get("sizes") or {}
    extra["sizes"] = sizes = {}
    for f in files:
        s = carried_sizes.get(f)
        if s is None:
            try:
                s = os.path.getsize(f)
            except OSError:
                continue
        sizes[f] = int(s)
    extra = {
        k: v for k, v in extra.items()
        if v or (k in _KEEP_EMPTY and v is not None)
    }
    rid = {**extra.pop("row_ids", {}), **(row_ids_seed or {})}
    wm = int(extra.pop("row_id_watermark", 0))
    if extra.get("row_tracking"):
        rid = {f: r for f, r in rid.items() if f in visible}
        # the watermark only ever grows: past the base's and past every
        # kept range (seeded ranges may come from a log the base never
        # saw)
        for b, n in rid.values():
            wm = max(wm, int(b) + int(n))
        for f in sorted(visible - set(rid)):
            n = _footer_num_rows(f)
            rid[f] = [wm, n]
            wm += n
        extra.update(row_tracking=True, row_ids=rid, row_id_watermark=wm)
    if op:
        extra["op"] = op
    return extra


def extend_schema_map(sm, col_names) -> list[dict] | None:
    """A commit that introduces columns while a field-id map exists
    must register them (fresh ids) so later renames can track them.
    Re-using a DROPPED field's name (or any historical name) is
    rejected: the dropped field's physical bytes still live in
    pre-drop files under exactly that name, so a new field bound to
    it would RESURRECT the deleted data instead of reading NULLs
    (Iceberg/Delta avoid this by assigning fresh physical names; this
    format's physical name IS the df column name, so the safe move is
    to refuse — same posture as rename_column). Module-level so the
    SnapshotTable write paths and the pysnapshot connector's commit
    share ONE implementation."""
    if sm is None:
        return None
    sm = [dict(e) for e in sm]
    live = {
        n
        for e in sm
        if not e.get("dropped")
        for n in (e["name"], *e.get("prior", []))
    }
    dead = {
        n
        for e in sm
        if e.get("dropped")
        for n in (e["name"], *e.get("prior", []))
    }
    next_id = max((e["id"] for e in sm), default=-1) + 1
    for c in col_names:
        if c in live:
            continue
        if c in dead:
            raise ValueError(
                f"column name {c!r} belonged to a DROPPED field; "
                "re-using it would resurrect the dropped data from "
                "pre-drop files — pick a new name"
            )
        sm.append({"id": next_id, "name": c, "prior": []})
        next_id += 1
    return sm


def version_as_of(root: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose banked
    commit timestamp is <= ``ts`` (Delta's semantics). Resolves from
    the checkpoint's timestamp index when one exists — O(commits since
    checkpoint) manifest reads instead of O(all versions) — and walks
    the retained manifests otherwise; raises if ``ts`` predates the
    oldest retained commit (nothing existed / retention passed it)."""
    best = 0
    start = 1
    ck = load_checkpoint(root)
    floor = 1
    if ck is not None:
        for row in ck.get("history", []):
            v, mts = int(row[0]), row[1]
            if mts is not None and mts <= ts:
                best = max(best, v)
        start = int(ck["version"]) + 1
        floor = int(ck.get("history_floor") or 1)
    for v in range(start, latest_version(root) + 1):
        try:
            m = load_manifest(root, v)
        except LogTruncated:
            continue
        mts = m.get("ts")
        if mts is not None and mts <= ts:
            best = v
    if best == 0 and floor > 1:
        # target predates the checkpoint's capped history window:
        # walk the retained manifests below the floor (cold path —
        # the cap trades this for flat checkpoint writes)
        for v in range(floor - 1, 0, -1):
            try:
                m = load_manifest(root, v)
            except LogTruncated:
                break
            mts = m.get("ts")
            if mts is not None and mts <= ts:
                best = v
                break
    if best == 0:
        raise ValueError(
            f"no snapshot committed at or before timestamp {ts!r} "
            "(predates the table, or the retention window)"
        )
    return best


def zone_prune(
    files: list[str],
    stats: dict[str, dict[str, list]],
    bounds: dict[str, tuple],
    aliases: dict[str, list[str]] | None = None,
) -> list[str]:
    """Files whose banked [min, max] ranges could intersect EVERY bound
    in ``bounds`` ({col: (lo, hi)}, None = unbounded side). Absent stats
    are a conservative keep — pruning can waste a read, never lose a
    row.

    ``aliases`` maps a bound's CURRENT column name to its historical
    physical names (field-id renames): the logical column's values in a
    file are the union over the alias columns physically present there
    (readers coalesce them), so a file is excluded on a bound only when
    at least one alias has banked stats AND every alias WITH banked
    stats excludes the range. Spreading the bound over aliases as
    independent AND-ed bounds would wrongly prune mixed-era files
    (post-compaction files physically carry BOTH names, each null for
    the other era's rows) whenever one era's range misses."""
    aliases = aliases or {}
    keep = []
    for f in files:
        st = stats.get(f, {})
        skip = False
        for col, (lo, hi) in bounds.items():
            names = [col, *aliases.get(col, [])]
            banked = [st[n] for n in names if st.get(n) is not None]
            if not banked:
                continue
            excluded = True
            for mm in banked:
                try:
                    if not (
                        (hi is not None and mm[0] > hi)
                        or (lo is not None and mm[1] < lo)
                    ):
                        excluded = False
                        break
                except TypeError:
                    # bound and banked stat live in incomparable domains
                    # (e.g. a datetime literal vs an ISO-string stat a
                    # caller failed to normalize): conservative keep —
                    # pruning may waste a read, never lose a row.
                    excluded = False
                    break
            if excluded:
                skip = True
                break
        if not skip:
            keep.append(f)
    return keep


#: Supported type-widening lattices (Delta's type widening): a column
#: may move UP within its family — reads of old-width files upcast at
#: scan time, zero rewrites. Cross-family changes (int -> string,
#: long -> double) are rejected: they change semantics, not width.
_WIDEN_ORDER = {
    "tinyint": ("int-family", 0),
    "smallint": ("int-family", 1),
    "int": ("int-family", 2),
    "bigint": ("int-family", 3),
    "float": ("float-family", 0),
    "double": ("float-family", 1),
}


def widen_merge(a: str, b: str) -> str:
    """The wider of two Spark DDL types within one widening family;
    identical types pass through; anything else raises (the same
    incompatibility mergeSchema would report)."""
    if a == b:
        return a
    fa, fb = _WIDEN_ORDER.get(a), _WIDEN_ORDER.get(b)
    if fa and fb and fa[0] == fb[0]:
        return a if fa[1] >= fb[1] else b
    raise ValueError(
        f"cannot reconcile column types {a!r} and {b!r}: not a "
        "widening within one type family"
    )


def partition_values_from_path(path: str) -> dict:
    """The partition tuple a file path encodes: ``{col: value}`` parsed
    from its ``__part_<col>=<value>`` segments (url-decoded; Hive's null
    sentinel maps to None). Files written before a spec (or through the
    connector) have no segments and parse to {} — the conservative
    'must read' signal. Shared by ``SnapshotTable.partition_pruned_files``
    and the pysnapshot connector's planning-time pruning."""
    from urllib.parse import unquote

    out: dict = {}
    for seg in path.split(os.sep):
        if seg.startswith("__part_") and "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            out[k[len("__part_"):]] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else v
            )
    return out


#: Iceberg-style partition TRANSFORMS: a spec entry is either a bare
#: column name (identity) or ``day(col)`` / ``month(col)`` /
#: ``trunc(col, N)`` / ``bucket(col, N)``. The transform is part of the
#: derived partition column's NAME (``day_ts``, ``bucket_id_16``), so
#: spec evolution to a different transform/arity yields a different
#: path key and old-layout files degrade to conservative keeps.
_SPEC_ENTRY = re.compile(
    r"^(?P<fn>day|month|trunc|bucket)\s*\(\s*(?P<col>\w+)"
    r"\s*(?:,\s*(?P<n>\d+)\s*)?\)$"
)


def parse_spec_entry(entry: str) -> dict:
    """Parse one partition-spec entry into
    ``{fn, col, n, name}`` — ``name`` is the path key after
    ``__part_`` (the source column itself for identity)."""
    m = _SPEC_ENTRY.match(entry)
    if not m:
        return {"fn": "identity", "col": entry, "n": None, "name": entry}
    fn, col, n = m.group("fn"), m.group("col"), m.group("n")
    if fn in ("trunc", "bucket"):
        if not n or int(n) < 1:
            raise ValueError(
                f"{fn}() takes a positive integer arg: {entry!r}"
            )
    elif n:
        raise ValueError(f"{fn}() takes no arg: {entry!r}")
    name = f"{fn}_{col}" + (f"_{n}" if n else "")
    return {
        "fn": fn,
        "col": col,
        "n": int(n) if n else None,
        "name": name,
    }


def spec_source_columns(spec: list[str]) -> list[str]:
    """The SOURCE columns a spec reads (identity or transformed)."""
    return [parse_spec_entry(e)["col"] for e in (spec or [])]


def entry_from_path_key(key: str, known_cols=()) -> dict:
    """HEURISTIC reverse-map of a ``__part_`` path key to a transform
    entry — ``day_ts`` → day(ts), ``bucket_user_id_8`` →
    bucket(user_id, 8), anything else → identity. Keys that literally
    name a CURRENT column are identity regardless (a real column
    called ``day_ts`` must not be mistaken for a transform of ``ts``);
    the caller passes the schema's column set for that guard. Only the
    legacy fallback inside ``resolve_path_key`` should call this:
    manifests bank an authoritative ``transform_keys`` record at
    spec-set time, immune to the renamed/dropped-column hazard the
    name guard can't cover."""
    if key in known_cols:
        return {"fn": "identity", "col": key, "n": None, "name": key}
    for fn in ("day", "month"):
        if key.startswith(fn + "_") and len(key) > len(fn) + 1:
            return {
                "fn": fn, "col": key[len(fn) + 1:], "n": None,
                "name": key,
            }
    for fn in ("trunc", "bucket"):
        if key.startswith(fn + "_"):
            rest = key[len(fn) + 1:]
            col, _, n = rest.rpartition("_")
            if col and n.isdigit():
                return {
                    "fn": fn, "col": col, "n": int(n), "name": key
                }
    return {"fn": "identity", "col": key, "n": None, "name": key}


def resolve_path_key(key: str, m: dict, known_cols=()) -> dict:
    """Resolve a ``__part_`` path key to its transform entry from the
    manifest's banked ``transform_keys`` record (written whenever a
    spec with transforms is registered, carried through every commit).
    A key with no record is IDENTITY: a transform this table never
    declared cannot have written the segment, so the name heuristic
    (``month_id`` → month(id)) can never wrongly prune an old-layout
    file whose identity column was later renamed or dropped —
    unresolvable keys degrade to a conservative keep, not a guess.
    Manifests that predate the record fall back to the heuristic."""
    tk = m.get("transform_keys")
    if tk is None:
        return entry_from_path_key(key, known_cols)
    rec = tk.get(key)
    if rec:
        return {
            "fn": rec["fn"], "col": rec["col"],
            "n": rec.get("n"), "name": key,
        }
    return {"fn": "identity", "col": key, "n": None, "name": key}


def spec_transform_expr(entry: dict, col, dtype: str | None = None):
    """The derived partition value as a Column expression over ``col``
    — shared verbatim between the write path and literal-side pruning
    so build and probe can never disagree. ``bucket`` uses Spark's
    Murmur3 ``hash`` (pmod N); ``trunc`` is Iceberg's width truncation
    (floor to a multiple of N, EXACT integer math — ``floor(col/n)*n``
    goes through a double and silently drifts past 2^53, diverging
    from the connector's integer floor division); ``day``/``month``
    format in the path domain directly. ``dtype`` is the source
    column's Spark type string: a tz-aware ``timestamp`` renders in
    the SESSION zone under plain date_format, while the connector's
    pure-Python twin and ``encode_partition_value`` normalize to naive
    UTC — so tz-aware columns are pinned to UTC here explicitly and
    parity never depends on ``spark.sql.session.timeZone``.
    (timestamp_ntz/date are wall-clock values; no conversion.)"""
    if entry["fn"] == "identity":
        return col
    if entry["fn"] in ("day", "month"):
        fmt = "yyyy-MM-dd" if entry["fn"] == "day" else "yyyy-MM"
        if dtype == "timestamp":  # tz-aware; "timestamp_ntz" is not
            # instant -> UTC wall clock, session-zone-independent:
            # date_format renders in the session zone, so shift the
            # instant by the session offset first
            col = F.to_utc_timestamp(col, F.expr("current_timezone()"))
        return F.date_format(col, fmt)
    if entry["fn"] == "trunc":
        n = entry["n"]
        return (col - F.pmod(col, F.lit(n))).cast("long")
    if entry["fn"] == "bucket":
        return F.pmod(F.hash(col), F.lit(entry["n"]))
    raise ValueError(f"unknown transform {entry['fn']!r}")


def encode_partition_value(val) -> str | None:
    """A predicate literal rendered in the path domain ``partition
    _values_from_path`` parses back — one shared encoding so build and
    probe can never disagree (the partition-spec analogue of the bloom
    index's canonical value encoding)."""
    if val is None:
        return None
    if isinstance(val, bool):  # Spark renders true/false
        return "true" if val else "false"
    if getattr(val, "tzinfo", None) is not None and hasattr(
        val, "astimezone"
    ):
        # same normalization as _json_scalar_value: path segments are
        # written from NAIVE (ntz) column values, so a tz-aware filter
        # literal must render in the same naive-UTC domain or the
        # string compare prunes a partition that matches (lost rows)
        import datetime as _dt

        val = val.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return str(val)


#: physical column name carrying a row's PERMANENT id through rewrites
#: (row tracking): files rewritten by OPTIMIZE/materialize carry it as
#: real parquet bytes; freshly appended files derive ids from their
#: manifest-banked [base_row_id, num_rows] range instead. Hidden from
#: every user-facing read; surfaced as ``_row_id`` on request.
ROW_ID_COL = "__row_id"

class SnapshotTable:
    def __init__(
        self, spark: SparkSession, root: str, clock=None
    ) -> None:
        self.spark = spark
        self.root = root
        #: commit-timestamp source (epoch seconds); injectable so tests
        #: and oracle-matched queries get deterministic TIMESTAMP AS OF
        self.clock = clock
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # ------------------------------------------------------------ internals
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "_manifests", f"v{version}.json")

    def _load_manifest(self, version: int) -> list[str]:
        return load_manifest(self.root, version)["files"]

    def _write_files(self, df: DataFrame, order_within=None) -> list[str]:
        """Write ``df`` as immutable parquet files under a fresh commit
        dir; returns the file paths. ``order_within`` (Column
        expressions) sorts rows inside each task after the partition-
        spec repartition — zero effect on WHICH file a row lands in,
        only on row order within it (zone-map/row-group locality).
        Distributed write — rows never cross
        the driver; only the resulting path list (metadata) does. EVERY
        data write passes through here, so registered CHECK constraints
        are enforced at this choke point (Delta's writer-side contract)
        — via ``df.observe``: the per-constraint violation counters ride
        the write pass itself (ONE scan, not check-then-write twice),
        and because the files are invisible until the manifest publish,
        a violating write aborts by unlinking the staged dir — same
        atomicity, half the compute, and a nondeterministic ``df``
        cannot pass the check yet write violating rows (the counters
        observe the exact rows written)."""
        cons = dict(self._constraints())
        # column DEFAULTs fill first (a generated column or CHECK
        # constraint may reference a defaulted column): writes that
        # omit the column get the expression, writes that supply it
        # keep their values — SQL DEFAULT semantics, no agreement check
        for name, expr in self._defaults().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
        # GENERATED columns: compute the ones the batch omits (the
        # writer-convenience half of Delta's GENERATED ALWAYS AS), and
        # validate the ones it supplies exactly like CHECK constraints
        # (`col <=> (expr)` counters on the same observe pass) — a
        # caller can never commit a value that disagrees with the
        # generation expression.
        gens = self._generated()
        for name, expr in gens.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                cons[f"__gen_{name}"] = (
                    f"{name} IS NOT DISTINCT FROM ({expr})"
                )
        obs = None
        if cons:
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(obs, *self._violation_counters(cons))
        d = os.path.join(self.root, "data", uuid.uuid4().hex)
        spec = self._partition_spec()
        if spec:
            entries = [parse_spec_entry(e) for e in spec]
            missing = [
                e["col"] for e in entries if e["col"] not in df.columns
            ]
            if missing:
                raise ValueError(
                    f"partition spec {spec} columns missing from the "
                    f"write batch: {missing}"
                )
            # identity OR transformed partitioning with the source
            # columns RETAINED in the data files (Iceberg's hidden-
            # partitioning shape): the layout rides derived
            # __part_<name> path columns (name carries the transform,
            # e.g. __part_day_ts / __part_bucket_id_16), so every read
            # path (DV positions, schema maps, the connector's per-file
            # Arrow reads) sees ordinary parquet. Pre-shuffling on the
            # derived keys puts each partition value in one task, so
            # the write lands ONE file per live partition tuple instead
            # of tasks x values shards.
            dts = dict(df.dtypes)
            pcols = {
                f"__part_{e['name']}": spec_transform_expr(
                    e, F.col(e["col"]), dts.get(e["col"])
                )
                for e in entries
            }
            df = df.withColumns(pcols).repartition(
                *[F.col(n) for n in pcols]
            )
            if order_within is not None:
                # the partition columns LEAD the sort: the file writer
                # requires rows grouped by partition value and would
                # otherwise insert its own partition-only sort,
                # discarding the requested order
                df = df.sortWithinPartitions(
                    *[F.col(n) for n in pcols],
                    *order_within,
                )
            (
                df.write.mode("errorifexists")
                .partitionBy(*pcols)
                .parquet(d)
            )
        elif (bspec := self._bucket_spec()) is not None:
            # declared hash-bucket layout: route through Spark's NATIVE
            # bucketed writer (the only writer that stamps the
            # murmur3 bucket id into the file name, the contract the
            # catalog bucketed scan trusts). The scratch table is
            # external (path option), so dropping it keeps the files;
            # repartition(n, col) uses the same murmur3-pmod mapping as
            # bucketBy, so each task owns exactly one bucket and writes
            # exactly ONE file — no task×bucket small-file blowup.
            # Rewrite paths (CoW delete, MERGE post-images) pass through
            # here too: re-hashing retained rows lands them back in
            # their original buckets, so the layout survives DML.
            bcol, n_buckets = bspec
            if bcol not in df.columns:
                raise ValueError(
                    f"bucket.by column {bcol!r} missing from the "
                    "write batch"
                )
            if order_within is not None:
                # OPTIMIZE ZORDER and bucket.by both claim the in-file
                # order; silently dropping either would break its
                # pruning contract
                raise ValueError(
                    "bucket.by fixes file membership and in-file "
                    "order (sortBy on the bucket column); a Z-order "
                    "write clause cannot compose with it"
                )
            scratch = f"pysnap_bkt_{uuid.uuid4().hex[:12]}"
            try:
                (
                    df.repartition(n_buckets, F.col(bcol))
                    .write.format("parquet")
                    .mode("errorifexists")
                    .option("path", d)
                    .bucketBy(n_buckets, bcol)
                    .sortBy(bcol)
                    .saveAsTable(scratch)
                )
            finally:
                # external table: dropping keeps the files; on a failed
                # write this also unregisters the half-created entry
                self.spark.sql(f"DROP TABLE IF EXISTS `{scratch}`")
        else:
            if order_within is not None:
                df = df.sortWithinPartitions(*order_within)
            df.write.mode("errorifexists").parquet(d)
        if obs is not None:
            got = obs.get
            bad = {n: got[n] for n in cons if got.get(n)}
            if bad:
                import shutil

                shutil.rmtree(d, ignore_errors=True)
                raise ValueError(
                    "CHECK constraint violation(s), write rejected: "
                    + ", ".join(
                        f"{n} ({cons[n]}): {c} row(s)"
                        for n, c in bad.items()
                    )
                )
        return sorted(
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    #: Commits with at least this many new files collect their footer
    #: stats executor-side (one task per chunk of paths) instead of in a
    #: driver loop — the fleet-scale path for bulk backfills. Small
    #: commits skip the job-scheduling overhead.
    DISTRIBUTED_STATS_THRESHOLD = 64

    def _footer_stats(
        self, files: list[str], cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file min/max for ``cols`` read from the parquet FOOTERS of
        freshly written files — no data scan, O(new files) footer reads
        per commit (in production the writer's task results carry these
        for free, as in Delta). Driver-side for typical commit sizes;
        past ``DISTRIBUTED_STATS_THRESHOLD`` files the footer reads fan
        out as a Spark job over the path list, so a 100k-file backfill
        collects stats at cluster parallelism and only the (path, mins,
        maxs) tuples return to the driver. A column missing footer stats
        in any row group is omitted for that file — absent stats mean
        "must read", never wrong pruning. String stats stay safe under
        parquet's stat truncation because writers round a truncated max
        UP (and drop min/max entirely when they can't), so a banked
        range is always a superset of the file's true range."""
        if len(files) >= self.DISTRIBUTED_STATS_THRESHOLD:
            sc = self.spark.sparkContext
            n_slices = max(1, min(len(files) // 16, 256))
            parts = sc.parallelize(files, n_slices).map(
                lambda p: (p, _footer_stats_one(p, cols))
            )
            return dict(parts.collect())
        return {p: _footer_stats_one(p, cols) for p in files}

    def _load_stats(self, version: int) -> dict[str, dict[str, list]]:
        return load_manifest(self.root, version)["stats"]

    def _publish(
        self,
        files: list[str],
        base_version: int,
        stats: dict[str, dict[str, list]] | None = None,
        dv=_UNSET,
        schema_map=_UNSET,
        constraints=_UNSET,
        generated=_UNSET,
        bloom_cols=_UNSET,
        blooms=_UNSET,
        txn_update: dict | None = None,
        op: str | None = None,
        partition_spec=_UNSET,
        transform_keys=_UNSET,
        properties=_UNSET,
        row_tracking=_UNSET,
        row_ids_seed: dict | None = None,
        ndv=_UNSET,
        ann=_UNSET,
        histograms=_UNSET,
        copied_update: dict | None = None,
        types=_UNSET,
        defaults=_UNSET,
        identity=_UNSET,
        evolution=_UNSET,
        base: dict | None = None,
    ) -> int:
        """Publish ``files`` as version ``base_version + 1``. The
        manifest's metadata is ``carry_forward`` of the base manifest
        with the given overrides (each keyword names one family;
        ``_UNSET`` carries the base's value, ``None`` or empty omits
        it). ``base`` carries from another table's manifest instead of
        this log's ``base_version`` (a clone's first commit). The one
        table-side step on top: the identity HIGH-WATER
        MARK advances to the new files' footer max — the highest id any
        writer actually committed, so it can never understate (O(new
        files) footer reads, fanned out past the stats threshold)."""
        if base is None:
            base = (
                load_manifest(self.root, base_version)
                if base_version > 0
                else {}
            )
        extra = carry_forward(
            base, files, op=op, txn_update=txn_update,
            copied_update=copied_update, row_ids_seed=row_ids_seed,
            dv=dv, schema=schema_map, constraints=constraints,
            generated=generated, bloom_cols=bloom_cols, blooms=blooms,
            partition_spec=partition_spec, transform_keys=transform_keys,
            properties=properties, row_tracking=row_tracking, ndv=ndv,
            ann=ann, histograms=histograms, types=types,
            defaults=defaults, identity=identity, evolution=evolution,
        )
        if extra.get("identity"):
            base_files = set(base.get("files", ()))
            new_files = [f for f in files if f not in base_files]
            fstats = self._footer_stats(new_files, list(extra["identity"]))
            extra["identity"] = ident = {
                c: dict(meta) for c, meta in extra["identity"].items()
            }
            for c, meta in ident.items():
                for f in new_files:
                    mm = (fstats.get(f) or {}).get(c)
                    if mm is not None:
                        meta["high"] = max(int(meta["high"]), int(mm[1]))
        return publish_version(
            self.root,
            files,
            base_version,
            stats,
            extra=extra or None,
            ts=self.clock() if self.clock else None,
        )

    # --------------------------------------------- deletion-vector reads
    #: sidecar bytes above which the DV anti-join stops hinting a
    #: broadcast: point deletes (KBs) broadcast; a wide delete's
    #: millions of positions shuffle-join instead of flooding executors
    DV_BROADCAST_MAX_BYTES = 64 << 20
    #: bucketed readback serves deletion vectors up to this much
    #: sidecar parquet through a broadcast LEFT ANTI JOIN (the view's
    #: scale tier — past the 4 MiB inline-predicate tier); above it,
    #: the churn belongs in OPTIMIZE ... REWRITE PHYSICAL
    DV_ANTI_JOIN_MAX_BYTES = 256 << 20

    #: every sidecar writer emits exactly these two columns (the plain
    #: path string and ``_metadata.row_index``); reading with the
    #: explicit schema skips Spark's footer schema-inference job
    DV_SCHEMA = "__dv_file string, __dv_pos bigint"

    def _dv_rows(self, dv: dict[str, list[str]]) -> DataFrame:
        """The (file, position) pairs of every sidecar in ``dv``, deduped
        (re-deleting an already-deleted row must stay idempotent).
        Broadcast-hinted only while the sidecars are point-delete sized
        (one cheap metadata stat of the sidecar dirs decides)."""
        dirs = sorted({d for lst in dv.values() for d in lst})
        df = (
            self.spark.read.schema(self.DV_SCHEMA)
            .parquet(*dirs)
            .dropDuplicates(["__dv_file", "__dv_pos"])
        )
        size = 0
        for d in dirs:
            try:
                size += sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d)
                )
            except OSError:
                size = self.DV_BROADCAST_MAX_BYTES + 1
                break
        return F.broadcast(df) if size <= self.DV_BROADCAST_MAX_BYTES else df

    @staticmethod
    def _reader_types(m: dict) -> dict[str, str] | None:
        """The banked reader schema as ``{physical name: type}`` once
        the manifest banks WIDENED column types (``widen_column``):
        prior physical names of renamed fields read under the field's
        widened type (both eras), and the row-tracking column rides
        along when enabled. None = no widening banked."""
        types = m.get("types")
        if not types:
            return None
        fields = dict(types)
        for ent in m.get("schema") or []:
            t = fields.get(ent["name"])
            if not t:
                continue
            for p in ent.get("prior", []):
                fields.setdefault(p, t)
        if m.get("row_tracking"):
            fields.setdefault(ROW_ID_COL, "bigint")
        return fields

    @classmethod
    def _reader_ddl(cls, m: dict) -> str | None:
        """``_reader_types`` as a DDL reader schema; None = no widening
        banked (readers take the mergeSchema footer union)."""
        fields = cls._reader_types(m)
        return fields and ", ".join(f"`{n}` {t}" for n, t in fields.items())

    def _scan(
        self,
        files: list[str],
        m: dict,
        mask: bool = True,
        provenance: bool = False,
        row_ids: str | None = None,
        smap=_UNSET,
        reader: StructType | str | None = None,
    ) -> DataFrame:
        """THE read of a snapshot's data files: every path that turns
        manifest files into rows comes through here, so these decisions
        are made once.

        * Reader: ``reader`` when given (the change feed fixes one per
          call, so its legs read without further footer jobs), else the
          explicit banked reader schema (``_reader_ddl``) when the
          manifest banks widened types — a mergeSchema footer union
          CRASHES on mixed-width files, an explicit wider schema
          upcasts them at scan time, which is the whole type-widening
          mechanism — else a mergeSchema union (additive evolution:
          older files surface newer columns as NULL). Zero ``files``
          under an explicit schema is a typed empty frame.
        * Provenance: each row's ``__dv_file`` (plain path) and
          ``__dv_pos`` (``_metadata.row_index``) — free metadata
          columns, the same pair every tombstone sidecar stores.
          ``provenance`` keeps them in front of the output.
        * Deletion vectors (``mask``): positions the manifest
          tombstones anti-join away against the sidecar rows
          (broadcast while point-delete sized, ``_dv_rows``).
        * Row ids: ``row_ids`` names an output column carrying each
          row's PERMANENT id — a physically-carried ``__row_id``
          (preserved through an earlier rewrite) wins, else the file's
          banked base + row position (a broadcast of O(files) rows).
          Otherwise the physical ``__row_id`` stays hidden.
        * Field-id projection through ``smap`` (default: ``m``'s own
          map; the change feed reads old files through the newer map,
          preserving rewrites pass None to keep physical names)."""
        reader = reader or self._reader_ddl(m)
        if reader:
            df = self.spark.read.schema(reader).parquet(*files)
        else:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                *files
            )
        dv = {f: m["dv"][f] for f in files if mask and m["dv"].get(f)}
        if provenance or row_ids or dv:
            df = df.withColumns(
                {
                    # file:///x or file:/x URIs back to the plain paths
                    # the manifest stores
                    "__dv_file": F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""
                    ),
                    "__dv_pos": F.col("_metadata.row_index"),
                }
            )
        if dv:
            dvr = self._dv_rows(dv)
            df = df.join(
                dvr,
                (df["__dv_file"] == dvr["__dv_file"])
                & (df["__dv_pos"] == dvr["__dv_pos"]),
                "left_anti",
            )
        keep: tuple[str, ...] = ()
        if row_ids:
            bases = self.spark.createDataFrame(
                [(f, int(r[0])) for f, r in (m.get("row_ids") or {}).items()],
                "__dv_file string, __rid_base long",
            )
            df = df.join(F.broadcast(bases), "__dv_file", "left")
            fresh = (F.col("__rid_base") + F.col("__dv_pos")).cast("long")
            if ROW_ID_COL in df.columns:
                fresh = F.coalesce(F.col(ROW_ID_COL).cast("long"), fresh)
            df = df.withColumn(row_ids, fresh).drop("__rid_base")
            keep = (row_ids,)
        if provenance:
            keep = ("__dv_file", "__dv_pos") + keep
        elif "__dv_file" in df.columns:
            df = df.drop("__dv_file", "__dv_pos")
        return self._apply_schema_map(
            df, m["schema"] if smap is _UNSET else smap, keep=keep
        )

    # ------------------------------------------- field-id schema mapping
    @staticmethod
    def _apply_schema_map(
        df: DataFrame, schema_map, keep: tuple[str, ...] = ()
    ) -> DataFrame:
        """Project physical columns onto the CURRENT logical schema: for
        each field id, coalesce across its historical physical names (a
        pre-rename file carries the old name, a post-rename file the new
        one — never both non-null for a row), alias to the current name,
        and exclude physically-present columns whose field was dropped.
        ``keep`` columns (e.g. row provenance) pass through in front.
        No-op for tables that never renamed/dropped (schema_map None) —
        except the physical row-tracking column, which never surfaces
        unless explicitly kept."""
        if not schema_map:
            if ROW_ID_COL in df.columns and ROW_ID_COL not in keep:
                df = df.drop(ROW_ID_COL)
            return df
        have = set(df.columns)
        cols = [F.col(k) for k in keep]
        for ent in schema_map:
            if ent.get("dropped"):
                continue  # tombstoned field: bytes stay, never surface
            names = [ent["name"], *ent.get("prior", [])]
            present = [n for n in names if n in have]
            if not present:
                continue
            col = (
                F.col(present[0])
                if len(present) == 1
                else F.coalesce(*[F.col(n) for n in present])
            )
            cols.append(col.alias(ent["name"]))
        return df.select(*cols)

    def _extend_schema_map(self, base_m: dict, df: DataFrame):
        # internal physical columns (the row-tracking __row_id a
        # preserving rewrite materializes) are never logical fields
        return extend_schema_map(
            base_m.get("schema"),
            [c for c in df.columns if not c.startswith("__")],
        )

    # ------------------------------------------------------------- surface
    def current_version(self) -> int:
        return latest_version(self.root)

    def _merged_stats(
        self,
        base_version: int,
        new_files: list[str],
        stats_cols: list[str] | None,
    ) -> dict[str, dict[str, list]]:
        """Stats for a commit's manifest: carried-forward files KEEP their
        banked stats (immutable files, immutable stats — Delta's add-file
        actions behave the same); new files get footer stats for
        ``stats_cols`` (plus any column the table already tracks, so the
        stat schema stays uniform across commits)."""
        prior = (
            self._load_stats(base_version) if base_version > 0 else {}
        )
        cols = set(stats_cols or [])
        for st in prior.values():
            cols |= set(st)
        merged = dict(prior)
        if cols:
            merged.update(self._footer_stats(new_files, sorted(cols)))
        else:
            merged.update({f: {} for f in new_files})
        return merged

    def _z_order_within(self, df: DataFrame, *cols: str):
        """Write-time Morton clustering (the liquid-clustering write
        shape): sort expressions placing each output file on a
        contiguous curve segment — a bounded range in EVERY clustered
        column, so zone maps prune any-column filters on the data as
        WRITTEN, no separate OPTIMIZE pass. Costs one 2N-scalar
        aggregate (the normalization bounds) plus a partition-local
        sort — no extra shuffle. N=2 rides the doubling-steps fast
        path (bit-identical to the original 2-D key); N=3/4 use the
        generic interleave (operators/zorder.py::z_value_n)."""
        from ..operators.zorder import normalize_to_bits_n, z_value_n

        aggs: list = []
        for c in cols:
            aggs.append(F.min(c).cast("bigint"))
            aggs.append(F.max(c).cast("bigint"))
        lim = df.agg(*aggs).collect()[0]
        if any(lim[2 * i] is None for i in range(len(cols))):
            return None
        normed = [
            normalize_to_bits_n(
                F.col(c),
                F.lit(lim[2 * i]),
                F.lit(lim[2 * i + 1]),
                len(cols),
            )
            for i, c in enumerate(cols)
        ]
        return [z_value_n(normed)]

    def _cluster_layout(
        self,
        df: DataFrame,
        m: dict,
        cluster_by: tuple[str, ...] | None = None,
        n_files: int | None = None,
    ) -> tuple[tuple[str, ...], DataFrame, list | None]:
        """The liquid-clustering write layout, shared by every writer
        that honours ``cluster.by``: returns (clustered columns, the
        frame to write, the ``order_within`` sort). The table declares
        the layout once and every write lays itself out along the
        Morton key; ``cluster_by`` overrides the property, and without
        either the frame passes through unchanged. Unless a partition
        spec decides file membership, the frame is range-partitioned on
        the Morton key into ``n_files`` partitions (default: the frame's
        own parallelism — AQE would otherwise coalesce a small batch to
        one file and erase the clustering), so each file owns a
        contiguous curve segment (a bounded range in EVERY clustered
        column) and the partition-local sort in ``_write_files``
        tightens zone maps inside it. Under a spec the key rides as the
        write-time sort only (the OPTIMIZE ZORDER composition rule)."""
        cols = cluster_by
        cb = (m.get("properties") or {}).get("cluster.by")
        if cols is None and cb:
            cols = tuple(c.strip() for c in str(cb).split(",") if c.strip())
            if not 2 <= len(cols) <= 4:
                # SET TBLPROPERTIES can bypass the CLUSTER BY arity
                # check — failing silently here would drop the declared
                # layout on every subsequent write. >4 is rejected on
                # the bit budget: the interleave gives each column
                # floor(63/N) bits, and below ~12 bits/column (N=5)
                # zone-map ranges get too coarse to prune — the same
                # practical cap Delta docs put on ZORDER column counts
                raise ValueError(
                    "table property cluster.by must name 2-4 "
                    f"comma-separated columns, got {cb!r}"
                )
        if not cols:
            return (), df, None
        order_within = self._z_order_within(df, *cols)
        if order_within and not self._partition_spec():
            if n_files is None:
                n_files = df.rdd.getNumPartitions()
            df = df.repartitionByRange(max(1, n_files), *order_within)
        return cols, df, order_within

    def commit_append(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        op: str = "APPEND",
        _copied_update: dict | None = None,
        cluster_by: tuple[str, ...] | None = None,
        txn_update: dict | None = None,
    ) -> int:
        """Append with AUTOMATIC CONFLICT RESOLUTION (Delta's semantics:
        two appends never truly conflict): on ``CommitConflict`` the
        files written once are re-published on top of the new head —
        data is never rewritten, only the manifest retries. The one
        genuine conflict is a CHECK constraint registered concurrently
        (this batch was validated against the OLD set); that still
        raises, mirroring the connector's posture."""
        new: list[str] | None = None
        cons_checked = set(self._constraints())
        spec_at_write = self._partition_spec()
        cur0 = self.current_version()
        bspec_at_write = (
            (load_manifest(self.root, cur0).get("properties") or {})
            if cur0 > 0
            else {}
        ).get("bucket.by")
        ident_at_write: dict[str, int] | None = None
        for _ in range(5):
            cur = self.current_version()
            m = (
                load_manifest(self.root, cur)
                if cur > 0
                else {"files": [], "schema": None}
            )
            # identity columns (GENERATED ALWAYS): the batch must omit
            # them; values are assigned from the head's high-water mark
            # read under THIS manifest. If a concurrent writer advanced
            # any watermark between our write and the retry, the ids
            # baked into our staged files may collide with theirs —
            # that is a real conflict (the one append/append race that
            # cannot auto-resolve), so fail and let the caller rewrite.
            if new is None:
                self._enforce_schema(m, df)
            head_ident = m.get("identity") or {}
            if new is None and head_ident:
                ident_at_write = {
                    c: int(v["high"]) for c, v in head_ident.items()
                }
                for c, meta in head_ident.items():
                    if c in df.columns:
                        raise ValueError(
                            f"{c!r} is GENERATED ALWAYS AS IDENTITY — "
                            "the engine assigns it; omit the column"
                        )
                    step = int(meta["step"])
                    df = df.withColumn(
                        c,
                        (
                            F.lit(int(meta["high"]) + step)
                            + F.lit(step)
                            * F.monotonically_increasing_id()
                        ).cast("long"),
                    )
            elif new is not None and head_ident:
                # a spec registered concurrently (staged files lack the
                # column entirely) conflicts just like a moved watermark
                moved = {
                    c
                    for c, v in head_ident.items()
                    if int(v["high"])
                    != (ident_at_write or {}).get(c)
                }
                if moved:
                    raise CommitConflict(
                        f"identity watermark(s) {sorted(moved)} "
                        "advanced or registered concurrently with "
                        "this append; the staged ids may collide or "
                        "be absent — retry the write"
                    )
            unchecked = set(m.get("constraints", {})) - cons_checked
            if new is not None and unchecked:
                raise CommitConflict(
                    f"constraints {sorted(unchecked)} were added "
                    "concurrently with this append; rows were not "
                    "checked against them — retry the write"
                )
            # a partition spec registered/changed concurrently means
            # these staged files were laid out under the WRONG spec —
            # publishing them would violate the layout contract (reads
            # stay correct via conservative pruning, but one file per
            # partition value is the whole point). A spec DROPPED
            # concurrently is harmless: extra __part_ segments are
            # truthful and prune fine.
            head_spec = m.get("partition_spec") or []
            if (
                new is not None
                and head_spec
                and head_spec != spec_at_write
            ):
                raise CommitConflict(
                    f"partition spec {head_spec} was registered "
                    "concurrently with this append; the staged files "
                    f"were laid out under {spec_at_write or 'no spec'} "
                    "— retry the write"
                )
            # same contract for the bucket layout: staged files carry
            # (or lack) a murmur3 bucket mapping baked at write time —
            # publishing them under a DIFFERENT head bucket.by would
            # poison every bucketed-readback join (the only mutable
            # window is an empty table; set_tblproperties refuses the
            # change once files exist)
            head_bspec = (m.get("properties") or {}).get("bucket.by")
            if new is not None and head_bspec != bspec_at_write:
                raise CommitConflict(
                    f"bucket.by changed concurrently with this append "
                    f"({bspec_at_write!r} -> {head_bspec!r}); the "
                    "staged files were laid out under the old spec — "
                    "retry the write"
                )
            # COPY INTO race: a concurrent writer landed (some of) the
            # same source files while we staged — publishing would
            # double-ingest. Fail the commit; the retry skips them.
            if _copied_update:
                dup = set(_copied_update) & set(m.get("copied", {}))
                if dup:
                    raise CommitConflict(
                        f"source file(s) {sorted(dup)[:3]}... were "
                        "COPY'd concurrently by another writer — "
                        "retry (they will be skipped)"
                    )
            if new is None:
                eff_cluster, laid, order_within = self._cluster_layout(
                    df, m, cluster_by
                )
                if eff_cluster:
                    # clustering exists to FEED zone maps: bank footer
                    # stats for every clustered column automatically
                    # (Delta banks stats on ZORDER columns the same
                    # way) — otherwise a CTAS/INSERT through the SQL
                    # surface would lay out the curve and then prune
                    # nothing
                    stats_cols = sorted(
                        set(stats_cols or []) | set(eff_cluster)
                    )
                new = self._write_files(laid, order_within=order_within)
            # registered bloom indexes extend to the new files (built
            # once; re-merged against the fresh head on each retry)
            blooms = (
                self._extend_blooms(m, new)
                if m.get("bloom_cols")
                else _UNSET
            )
            try:
                v = self._publish(
                    m["files"] + new,
                    cur,
                    self._merged_stats(cur, new, stats_cols),
                    schema_map=self._extend_schema_map(m, df),
                    blooms=blooms,
                    op=op,
                    copied_update=_copied_update,
                    types=self._merged_types(m, df),
                    txn_update=txn_update,
                )
            except CommitConflict:
                continue
            try:
                self._maybe_auto_compact(new)
            except Exception:
                # the append is already durable — a compaction hiccup
                # (malformed auto.compact.* property, racing vacuum
                # stat failure) must not make a committed write look
                # failed: a caller's retry would double-ingest
                pass
            return v
        raise CommitConflict(
            "5 consecutive manifest conflicts — giving up"
        )

    def _maybe_auto_compact(self, new_files: list[str]) -> None:
        """Delta's autoCompact, armed by the ``auto.compact`` table
        property: after a successful append, synchronously compact any
        partition this append touched that has accumulated at least
        ``auto.compact.min.files`` files under
        ``auto.compact.small.bytes`` — one ordinary OPTIMIZE commit per
        fragmented partition (rows identical, CDF empty by carry-
        forward cancellation, old versions keep the old layout). Scoped
        to the TOUCHED partition tuples by exact path-segment match, so
        the post-append sweep is O(touched partitions), never a
        whole-table walk; unpartitioned tables consider the whole
        visible set. Best-effort: a racing writer's CommitConflict
        abandons the compaction (the data is already safely committed;
        the next append retries it), and the trigger reads only BANKED
        sizes — zero stat calls on the hot append path."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        props = m.get("properties") or {}
        if str(props.get("auto.compact", "")).lower() != "true":
            return
        small_b = int(
            props.get("auto.compact.small.bytes", AUTO_COMPACT_SMALL_BYTES)
        )
        target_b = int(
            props.get(
                "auto.compact.target.bytes", AUTO_COMPACT_TARGET_BYTES
            )
        )
        min_f = int(
            props.get("auto.compact.min.files", AUTO_COMPACT_MIN_FILES)
        )
        sizes = m.get("sizes") or {}
        if m.get("partition_spec"):
            touched = {
                tuple(sorted(partition_values_from_path(f).items()))
                for f in new_files
            }
            scopes = [
                [
                    f
                    for f in m["files"]
                    if tuple(
                        sorted(partition_values_from_path(f).items())
                    )
                    == key
                ]
                for key in touched
            ]
        else:
            scopes = [list(m["files"])]
        for cand in scopes:
            small = [
                f for f in cand if sizes.get(f, small_b) < small_b
            ]
            if len(small) < max(2, min_f):
                continue
            try:
                self.optimize_small_files(
                    small_b, target_b, candidate_files=cand
                )
            except CommitConflict:
                return

    def commit_rewrite(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        txn_update: dict | None = None,
        op: str = "REWRITE",
    ) -> int:
        """Replace the visible file set (compaction / OPTIMIZE): readers
        of older versions keep their files; the new version sees only the
        rewritten layout. ``txn_update`` publishes application-level
        (appId -> watermark) records atomically with the rewrite (the
        Delta txn action — e.g. the MV refresh cursor)."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "schema": None}
        )
        new = self._write_files(df)
        stats = self._merged_stats(cur, new, stats_cols)
        return self._publish(
            new,
            cur,
            {f: stats.get(f, {}) for f in new},
            schema_map=self._extend_schema_map(m, df),
            blooms=(
                self._extend_blooms(m, new)
                if m.get("bloom_cols")
                else _UNSET
            ),
            txn_update=txn_update,
            op=op,
            types=self._merged_types(m, df),
        )

    def commit_txn(self, txn_update: dict, op: str = "TXN") -> int:
        """Metadata-only commit advancing idempotence watermark(s) (the
        Delta txn action with no data change): an EMPTY streaming epoch
        must still mark itself processed or a restart replays it
        forever. Retries on conflict — the file set re-publishes from
        the fresh head each time (nothing of ours moves)."""
        for _ in range(5):
            cur = self.current_version()
            m = (
                load_manifest(self.root, cur)
                if cur > 0
                else {"files": [], "stats": {}}
            )
            try:
                return self._publish(
                    m["files"],
                    cur,
                    m.get("stats") or {},
                    txn_update=txn_update,
                    op=op,
                )
            except CommitConflict:
                continue
        raise CommitConflict(
            "5 consecutive manifest conflicts — giving up"
        )

    def txn_watermark(self, app_id: str):
        """The newest banked watermark for ``app_id`` (None if never
        committed) — the read half of the idempotent-writer txn
        action."""
        cur = self.current_version()
        if cur == 0:
            return None
        return load_manifest(self.root, cur).get("txn", {}).get(app_id)

    def read(
        self,
        version: int | None = None,
        as_of_ts: float | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read a snapshot through ``_scan``: commits may add columns
        (additive evolution, the S5 contract — older files surface the
        new columns as NULL), widen, rename or drop them, and tombstone
        rows; the read applies all of it. ``as_of_ts`` is TIMESTAMP AS
        OF time travel: the newest version whose banked commit timestamp is
        <= the given epoch-seconds value (Delta semantics). ``tag``
        reads an immutable named ref (VERSION AS OF a tag). The three
        selectors are mutually exclusive."""
        if sum(x is not None for x in (version, as_of_ts, tag)) > 1:
            raise ValueError("pass at most one of version/as_of_ts/tag")
        if tag is not None:
            version = self.tag_version(tag)
        if as_of_ts is not None:
            version = version_as_of(self.root, as_of_ts)
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        if m["files"]:
            return self._scan(m["files"], m)
        # an EMPTY snapshot (e.g. a streaming complete-mode epoch whose
        # recomputed result was empty): zero rows, schema from the
        # newest prior version that had files — read through THIS
        # version's reader and field-id map, so the zero-row frame
        # surfaces the current logical column names (not the prior
        # files' physical names: post-rename those differ, and dropped
        # columns must not resurface).
        for pv in range(v - 1, 0, -1):
            try:
                prior = self._load_manifest(pv)
            except LogTruncated:
                break
            if prior:
                return self._scan(prior, m).limit(0)
        if self._reader_types(m) is None:
            raise ValueError(
                f"snapshot version {v} is empty and no prior version "
                "carries a schema"
            )
        # a CREATEd-but-never-written table: the declared (banked)
        # schema IS the read schema — typed empty frame
        return self._scan([], m)

    def file_count(self, version: int | None = None) -> int:
        v = self.current_version() if version is None else version
        return len(self._load_manifest(v))

    def commit_replace(
        self,
        remove: list[str],
        df: DataFrame,
        op: str = "REPLACE",
        order_within=None,
    ) -> int:
        """Surgical rewrite: drop ``remove`` from the visible set, add
        ``df``'s files. The DELETE/UPDATE primitive of every lakehouse
        format: untouched files keep their identity (no data movement, no
        cache/pruning-stats invalidation); only the files that actually
        contain affected rows are rewritten. Readers of older versions
        still see the removed files — they are unreferenced, not
        deleted. ``order_within`` (Column expressions) requests a
        write-time sort inside each output file — how OPTIMIZE ZORDER
        keeps curve locality on a partition-spec'd table, where the
        layout repartition would otherwise scramble the z-sort."""
        gone = set(remove)
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "schema": None}
        )
        keep = [f for f in m["files"] if f not in gone]
        new = self._write_files(df, order_within=order_within)
        stats = self._merged_stats(cur, new, None)
        visible = keep + new
        return self._publish(
            visible,
            cur,
            {f: stats.get(f, {}) for f in visible},
            schema_map=self._extend_schema_map(m, df),
            # kept files inherit their bloom pointers via the base
            # carry; replacement files are indexed here so a surgical
            # rewrite doesn't degrade point lookups to full keeps
            blooms=(
                self._extend_blooms(m, new)
                if m.get("bloom_cols")
                else _UNSET
            ),
            op=op,
            types=self._merged_types(m, df),
        )

    # ------------------------------------- merge-on-read DELETE (DVs) --
    def _dml_rebase_ok(self, read_m: dict, head_m: dict) -> bool:
        """Whether a conflicted MOR DML (delete_where / update_where)
        may REBASE onto ``head_m`` instead of failing — Delta's
        write-serializable allowance: the DML serializes BEFORE the
        concurrent commit, which is sound exactly when that commit
        was a PURE ADD (append / COPY INTO / connector write). Rows it
        appended are then simply not subject to this DML, the same
        result as running the DML first. Anything that touched rows
        the DML read — a removed file (rewrite/compaction/CoW), a DV
        change on a read file (concurrent delete/update may have hit
        the SAME rows; rebasing could resurrect a deleted row as our
        post-image, which no serial order produces) — or a changed
        writer contract (constraints/generated/identity/spec/schema
        map/enforcement the staged output wasn't validated against)
        refuses the rebase and surfaces the CommitConflict."""
        head_files = set(head_m["files"])
        if set(read_m["files"]) - head_files:
            return False
        rdv, hdv = read_m.get("dv", {}), head_m.get("dv", {})
        for f in read_m["files"]:
            if (rdv.get(f) or []) != (hdv.get(f) or []):
                return False
        for k in (
            "constraints",
            "generated",
            "identity",
            "partition_spec",
            "evolution",
            "schema",
            # banked reader types: a rebased UPDATE/MERGE republishes
            # the types it computed from its READ manifest — rebasing
            # over a concurrent widen/extension would silently revert
            # the head's type contract (int claimed for a file holding
            # bigints = miscast reads), so any types change conflicts
            "types",
        ):
            if (read_m.get(k) or None) != (head_m.get(k) or None):
                return False
        return True

    def _publish_with_rebase(
        self,
        read_m: dict,
        base_v: int,
        new_files: list[str],
        dv_sidecar: str | None = None,
        affected: list[str] | None = None,
        **pub_kwargs,
    ) -> int:
        """Publish a MOR DML commit (tombstone sidecar + optional new
        files ON TOP of the base's file set) with write-serializable
        rebase: on CommitConflict, re-target the new head when
        ``_dml_rebase_ok`` allows it (concurrent pure adds), else
        surface the conflict. The staged data writes exactly once —
        each retry is a metadata-only re-publish."""
        base_m, bv = read_m, base_v
        for _ in range(5):
            dv = _UNSET
            if dv_sidecar is not None:
                dv = {f: list(v) for f, v in base_m["dv"].items()}
                for f in affected or []:
                    dv.setdefault(f, []).append(dv_sidecar)
            try:
                return self._publish(
                    base_m["files"] + new_files,
                    bv,
                    self._merged_stats(bv, new_files, None),
                    dv=dv,
                    **pub_kwargs,
                )
            except CommitConflict:
                head_v = self.current_version()
                head_m = load_manifest(self.root, head_v)
                if not self._dml_rebase_ok(read_m, head_m):
                    raise
                base_m, bv = head_m, head_v
        raise CommitConflict(
            "5 consecutive manifest conflicts — giving up"
        )

    def _stage_tombstones(
        self, tomb: DataFrame, affected: list[str] | None = None
    ) -> tuple[str | None, list[str]]:
        """The one tombstone-staging step of the MOR DML verbs: write
        ``tomb``'s (``__dv_file``, ``__dv_pos``) rows to a fresh
        ``deletes/`` sidecar and return (sidecar dir, affected files).
        ``affected`` (when the caller already knows it) skips the
        distinct-files collect. Nothing matched = nothing written,
        ``(None, [])``: a no-op DML stages no orphan directory. ``tomb``
        is evaluated twice (collect, write), so callers pass a
        checkpoint or a projection of one. The write keeps the frame's
        task parallelism: a wide delete streams positions out of every
        partition, a point delete writes a few KB-sized shards —
        sidecar readers union the directory either way."""
        if affected is None:
            affected = [
                r["__dv_file"]
                for r in tomb.select("__dv_file").distinct().collect()
            ]
        if not affected:
            return None, []
        dvdir = os.path.join(self.root, "deletes", uuid.uuid4().hex)
        tomb.write.mode("errorifexists").parquet(dvdir)
        return dvdir, affected

    def delete_where(self, predicate) -> int:
        """DELETE as a DELETION-VECTOR commit (merge-on-read): data files
        stay byte-identical; the commit writes one sidecar of (file,
        row_position) pairs for the matched rows and banks it in the
        manifest's ``dv`` map. Readers anti-join the positions away. This
        is the GDPR point-delete shape: commit cost is O(matched rows) —
        a 3-row delete on a table of 1 GB files writes KBs, where
        copy-on-write (``commit_replace``) rewrites every touched file in
        full. Row provenance comes from the free ``_metadata`` columns
        (no scan widening); the matching scan itself is a normal
        predicate-pushed read. Already-deleted rows can't re-match (the
        matching read is DV-masked), so replaying a delete is a no-op
        commit. History stays intact: version N-1 still reads the rows.
        ``materialize_deletes`` / OPTIMIZE folds DVs into rewrites when
        tombstones accumulate."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        if not m["files"]:
            return cur
        dvdir, affected = self._stage_tombstones(
            self._scan(m["files"], m, provenance=True)
            .filter(predicate)
            .select("__dv_file", "__dv_pos")
            .localCheckpoint(eager=True)
        )
        if not affected:
            return cur  # nothing matched: no commit
        # publish with WRITE-SERIALIZABLE rebase: a concurrent pure
        # append advances the head without invalidating this delete
        # (it serializes before the append — appended rows are not
        # subject to it); anything that touched read rows conflicts.
        return self._publish_with_rebase(
            m, cur, [], dv_sidecar=dvdir, affected=affected, op="DELETE"
        )

    def update_where(self, predicate, assignments: dict) -> int:
        """UPDATE as ONE merge-on-read commit: matched rows are
        tombstoned (deletion-vector sidecar) and their post-images —
        ``assignments`` ({column: Column expression}) applied — land in
        the commit's new files; both halves publish in a single atomic
        manifest, so readers see the old row or the new row, never both
        and never neither. Cost is O(matched rows) for the sidecar plus
        a write of the matched rows only — copy-on-write would rewrite
        every touched FILE in full. History keeps the pre-images
        (time travel + CDF report the delete/insert pair). Under row
        tracking the post-image KEEPS the pre-image's permanent id — an
        UPDATE changes a row's values, not its identity."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        if not m["files"]:
            return cur
        mapped = self._scan(
            m["files"],
            m,
            provenance=True,
            row_ids=ROW_ID_COL if m.get("row_tracking") else None,
        )
        # The matched rows MATERIALIZE once (localCheckpoint, O(matched)
        # storage): the tombstone sidecar AND the post-images both
        # derive from this one frame, so the predicate evaluates exactly
        # once — a nondeterministic predicate (sampling, rand()-derived)
        # can no longer tombstone one row-set and insert post-images of
        # a different one (the pre-r8 pinning re-joined the table
        # against the written sidecar: same guarantee, but the touched
        # files were read twice).
        matched = mapped.filter(predicate).localCheckpoint(eager=True)
        dvdir, affected = self._stage_tombstones(
            matched.select("__dv_file", "__dv_pos")
        )
        if not affected:
            return cur  # nothing matched
        post = matched.drop("__dv_file", "__dv_pos").withColumns(
            assignments
        )
        # GENERATED columns an assignment didn't explicitly set are
        # DROPPED from the post-image so the write path recomputes them
        # from the updated inputs (Delta's UPDATE semantics) — keeping
        # the stale value would trip the writer-side `<=>` validation
        # and reject a legitimate update. An assignment that targets the
        # generated column itself stays, and is validated as usual.
        regen = [
            g
            for g in self._generated()
            if g in post.columns and g not in assignments
        ]
        if regen:
            post = post.drop(*regen)
        new = self._write_files(post)
        # the same write-serializable rebase as delete_where: the
        # update's tombstones + post-images publish on top of a
        # concurrent pure append; anything touching read rows raises
        return self._publish_with_rebase(
            m,
            cur,
            new,
            dv_sidecar=dvdir,
            affected=affected,
            schema_map=self._extend_schema_map(m, post),
            op="UPDATE",
            types=self._merged_types(m, post),
        )

    def truncate(self) -> int:
        """TRUNCATE TABLE — a METADATA-ONLY delete of every row: the
        new version has an empty file list (zero reads, zero rewrites,
        zero deletion vectors); the schema and writer contracts
        (constraints / defaults / identity / spec / properties) carry
        forward, prior versions still time-travel, and the bytes
        reclaim at the next VACUUM — warehouse TRUNCATE semantics at
        manifest-swap cost, the same zero-IO posture as partition
        DROP."""
        for _ in range(5):
            cur = self.current_version()
            if cur == 0:
                raise ValueError(
                    "no table at this root (create it first)"
                )
            try:
                return self._publish([], cur, {}, dv={}, op="TRUNCATE")
            except CommitConflict:
                continue
        raise CommitConflict(
            "5 consecutive manifest conflicts — giving up"
        )

    def replace_where(self, predicate, df: DataFrame) -> int:
        """Delta's ``replaceWhere`` (SQL: ``INSERT INTO ... REPLACE
        WHERE``): atomically replace exactly the rows matching
        ``predicate`` with ``df``, in ONE merge-on-read commit —
        deletion-vector tombstones for the matched rows plus the new
        rows' files publish in a single manifest, so readers see the
        old window or the new window, never a mix and never neither.
        Every incoming row must satisfy ``predicate`` (the Delta
        contract — otherwise the "replace" would write outside the
        window it just cleared; validated on the incoming frame before
        anything stages). Cost is O(matched rows) for the sidecar +
        the new rows' write — a partition-window reload (the daily
        re-materialization shape) never rewrites untouched files.
        Publishes through the write-serializable rebase: concurrent
        pure appends don't invalidate it. A window that matches nothing
        replaced by an empty frame publishes nothing."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "dv": {}, "schema": None, "stats": {}}
        )
        self._enforce_schema(m, df)
        predicate = F.lit(True) if predicate is None else predicate
        # pin the incoming frame: the validation below and the write
        # must see the SAME rows — a nondeterministic source could
        # otherwise pass the window check yet write rows outside it
        df = df.localCheckpoint(eager=True)
        n_in, outside = df.agg(
            F.count(F.lit(1)),
            F.count_if(~predicate.eqNullSafe(F.lit(True))),
        ).first()
        if outside:
            raise ValueError(
                f"REPLACE WHERE: {outside} incoming row(s) do not "
                "satisfy the predicate — the replacement must stay "
                "inside the window it clears"
            )
        dvdir, affected = None, []
        if m["files"]:
            dvdir, affected = self._stage_tombstones(
                self._scan(m["files"], m, provenance=True)
                .filter(predicate)
                .select("__dv_file", "__dv_pos")
                .localCheckpoint(eager=True)
            )
        if cur and not affected and not n_in:
            return cur
        new = self._write_files(df)
        return self._publish_with_rebase(
            m,
            cur,
            new,
            dv_sidecar=dvdir,
            affected=affected,
            schema_map=self._extend_schema_map(m, df),
            op="REPLACE WHERE",
            types=self._merged_types(m, df),
        )

    def merge_mor(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict | None = None,
        when_matched_delete=None,
        insert_not_matched=True,
        when_not_matched_by_source_delete=None,
        when_matched_update_condition=None,
        txn_update: dict | None = None,
    ) -> int:
        """Three-branch MERGE INTO as ONE merge-on-read commit (the
        Delta MERGE shape, executed with deletion vectors instead of
        file rewrites):

        * matched target rows hitting ``when_matched_delete`` (a boolean
          Column over target columns + ``__src_<col>`` source columns)
          are tombstoned;
        * other matched rows — all of them, or only those satisfying
          ``when_matched_update_condition`` (a boolean Column over the
          same namespace — Delta's WHEN MATCHED AND <cond> THEN UPDATE)
          — take ``when_matched_update`` assignments ({target_col:
          Column expression, same namespace}) as post-images; a matched
          row failing the condition is NOT touched (no tombstone, no
          rewrite, no CDF rows — not a no-op update);
        * matched rows hitting neither clause stay untouched (no
          tombstone, no rewrite — Delta's semantics);
        * unmatched source rows insert when ``insert_not_matched`` is
          ``True``, or only those satisfying it when it is a boolean
          Column over the ``__src_<col>`` namespace (Delta's WHEN NOT
          MATCHED AND <condition> THEN INSERT);
        * target rows with NO source match are tombstoned when
          ``when_not_matched_by_source_delete`` is ``True``
          (unconditional) or a boolean Column over target columns —
          Delta's WHEN NOT MATCHED BY SOURCE THEN DELETE, which with
          the other branches makes MERGE a full table SYNC (target
          becomes exactly the source).

        All three branches publish in a SINGLE atomic manifest (sidecar
        + post-image/insert files), so a reader sees the whole merge or
        none of it. Cost is O(matched rows + inserts) — copy-on-write
        MERGE rewrites every FILE containing a match.

        Execution is ONE pass over the candidate target files and ONE
        materialization: the target semi-joins the source keys (a
        broadcast when the source is small, so the target streams once
        and nothing shuffles), the source LEFT OUTER JOINs that
        O(matched) frame, and every row's clause outcomes (``__is_del``
        / ``__is_upd`` / ``__is_ins``) are pinned as columns before a
        single ``localCheckpoint``. Tombstones, post-images, inserts,
        the ambiguity guard and the row counts that decide which
        branches write all derive from that checkpoint, so a
        nondeterministic clause condition is evaluated exactly once and
        identity ids are assigned once. Only WHEN NOT MATCHED BY SOURCE
        reads the target a second time (its anti-join must see every
        target row).

        When a matched clause is present, a source with duplicate join
        keys against one target row is rejected (the Delta
        multiple-matches error): the merge would be ambiguous.
        Insert-only merges never raise — matched rows are ignored
        whatever their multiplicity, and not-matched duplicates all
        insert, exactly Delta's semantics."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "dv": {}, "schema": None}
        )
        src = source
        for c in src.columns:
            src = src.withColumnRenamed(c, f"__src_{c}")
        key_cond = [
            F.col(k) == F.col(f"__src_{k}") for k in on
        ]
        # a Column here is a CONDITION on the insert branch (truthiness
        # on a Column raises, so the flag and the condition are split)
        ins_on = insert_not_matched is not False and (
            insert_not_matched is not None
        )
        ins_cond = (
            insert_not_matched
            if ins_on and insert_not_matched is not True
            else None
        )
        # strict schema enforcement: the insert branch is merge_mor's
        # one schema-extending path — reject source columns the table
        # does not have BEFORE any work (no-op under additive mode)
        ident_all = m.get("identity") or {}
        if ins_on:
            self._enforce_schema(m, source)
            for c in ident_all:
                if f"__src_{c}" in src.columns:
                    raise ValueError(
                        f"{c!r} is GENERATED ALWAYS AS IDENTITY — the "
                        "engine assigns it; omit it from the source"
                    )

        def with_identity(ins: DataFrame) -> DataFrame:
            # MERGE inserts draw engine-assigned ids from the head
            # watermark, the same map-side expression as commit_append
            # (a racing watermark advance conflicts this merge's single
            # exclusive publish — the retry re-reads); _publish then
            # advances the watermark from the written footers
            for c, meta in ident_all.items():
                step = int(meta["step"])
                ins = ins.withColumn(
                    c,
                    (
                        F.lit(int(meta["high"]) + step)
                        + F.lit(step) * F.monotonically_increasing_id()
                    ).cast("long"),
                )
            return ins

        if not m["files"]:
            if ins_on:
                ins_src = src
                if ins_cond is not None:
                    ins_src = ins_src.filter(
                        ins_cond.eqNullSafe(F.lit(True))
                    )
                ins = with_identity(
                    ins_src.select(
                        *[
                            F.col(f"__src_{c}").alias(c)
                            for c in source.columns
                        ]
                    )
                )
                new = self._write_files(ins)
                # empty-table insert branch, rebase-aware: a racing
                # first append must not be dropped by publishing the
                # insert files alone
                return self._publish_with_rebase(
                    m,
                    cur,
                    new,
                    op="MERGE",
                    txn_update=txn_update,
                )
            if txn_update:
                # empty no-op epoch: the idempotence watermark must
                # still advance atomically (a replay would otherwise
                # re-run forever on restart loops)
                return self._publish(
                    m["files"], cur, m.get("stats") or {},
                    txn_update=txn_update, op="MERGE",
                )
            return cur
        track = bool(m.get("row_tracking"))
        # False = branch disabled, like None (the flag/condition split
        # mirrors insert_not_matched's ins_on handling — truthiness on a
        # Column raises, so identity checks gate)
        nmbs_on = (
            when_not_matched_by_source_delete is not None
            and when_not_matched_by_source_delete is not False
        )
        import time as _mtime

        MERGE_METRICS.clear()
        # Delta's MERGE file pruning: a file whose banked key range
        # cannot intersect the SOURCE's key hull provably holds no
        # matched row, no ambiguous key, and no key an insert could
        # collide with — it skips the staged scan
        # entirely and rides the manifest untouched. Disabled when NOT
        # MATCHED BY SOURCE is on (that branch must see every target
        # row); absent stats keep their files (zone_prune is
        # conservative). A merge touching 0.1% of a 100 TB table now
        # reads ~0.1% of it.
        _ph0 = _mtime.perf_counter()
        cand_files = m["files"]
        aliased_keys = set(on)
        for ent in m.get("schema") or []:
            if ent["name"] in set(on):
                aliased_keys |= set(ent.get("prior", []))
        stats_cover_keys = any(
            k in st for st in m["stats"].values() for k in aliased_keys
        )
        if stats_cover_keys and not nmbs_on:
            # computing the source hull costs one extra evaluation of
            # the source — only worth it when at least one file banks
            # stats for a merge key (otherwise nothing can prune)
            hull = src.agg(
                *[
                    F.min(f"__src_{k}").alias(f"__lo_{i}")
                    for i, k in enumerate(on)
                ],
                *[
                    F.max(f"__src_{k}").alias(f"__hi_{i}")
                    for i, k in enumerate(on)
                ],
            ).collect()[0]
            bounds = {}
            for i, k in enumerate(on):
                lo = _json_scalar_value(hull[f"__lo_{i}"])
                hi = _json_scalar_value(hull[f"__hi_{i}"])
                if lo is not None or hi is not None:
                    bounds[k] = (lo, hi)
            if bounds:
                aliases = {}
                for ent in m.get("schema") or []:
                    if ent["name"] in bounds and ent.get("prior"):
                        aliases[ent["name"]] = list(ent["prior"])
                cand_files = zone_prune(
                    m["files"], m["stats"], bounds, aliases
                )
                if not cand_files:
                    # nothing can match: one arbitrary file keeps the
                    # frames non-degenerate (provably matchless — the
                    # joins yield nothing from it)
                    cand_files = m["files"][:1]
        MERGE_METRICS["files_total"] = len(m["files"])
        MERGE_METRICS["files_scanned"] = len(cand_files)
        MERGE_METRICS["source_hull_sec"] = round(
            _mtime.perf_counter() - _ph0, 3
        )
        # row tracking: a post-image keeps the pre-image's permanent id
        # (an UPDATE branch changes values, not identity); inserts draw
        # fresh ids from their new files' ranges
        mapped = self._scan(
            cand_files,
            m,
            provenance=True,
            row_ids=ROW_ID_COL if track else None,
        )
        for c in ident_all:
            if when_matched_update and c in when_matched_update:
                raise ValueError(
                    f"{c!r} is GENERATED ALWAYS AS IDENTITY — an "
                    "UPDATE clause cannot assign it"
                )
        if (
            when_matched_update_condition is not None
            and when_matched_update is None
        ):
            raise ValueError(
                "when_matched_update_condition requires "
                "when_matched_update assignments"
            )
        has_matched_clauses = (
            when_matched_delete is not None
            or when_matched_update is not None
        )
        _ph0 = _mtime.perf_counter()
        # THE single frame: the candidate target semi-joins the source
        # keys (target streams once against a broadcast of the keys when
        # the source is small — O(matched) rows survive), then the
        # source LEFT OUTER JOINs that frame. A row with __dv_file set is
        # a matched (target, source) pair; a NULL __dv_file is an insert
        # candidate (NULL source keys never `=`-match, so they insert —
        # Delta's semantics). The clause outcomes are pinned as columns
        # and the frame MATERIALIZES once (localCheckpoint, O(matched +
        # inserts) storage): tombstones, post-images, inserts and the
        # driver aggregate below all read the checkpoint, so the target
        # is never re-scanned for them and a nondeterministic clause
        # condition is evaluated exactly once (the flags cross the
        # barrier as data). Insert-only merges keep only the unmatched
        # rows; a merge with neither matched nor insert clauses (NOT
        # MATCHED BY SOURCE alone) needs no frame at all.
        ckpt = None
        touched_files: list[str] = []
        n_post = n_ins = 0
        if has_matched_clauses or ins_on:
            matched = F.col("__dv_file").isNotNull()
            if ins_on:
                hits = mapped.join(
                    src.select(*[f"__src_{k}" for k in on]),
                    key_cond,
                    "left_semi",
                )
                frame = src.join(hits, key_cond, "left")
                if not has_matched_clauses:
                    frame = frame.filter(~matched)
            else:
                # no insert branch: only matched pairs matter, and the
                # plain inner join is already one target pass
                frame = mapped.join(src, key_cond, "inner")
            ins_flag = (
                ins_cond.eqNullSafe(F.lit(True))
                if ins_cond is not None
                else F.lit(ins_on)
            )
            del_cond = (
                when_matched_delete.eqNullSafe(F.lit(True))
                if when_matched_delete is not None
                else F.lit(False)
            )
            upd_cond = (
                F.lit(False)
                if when_matched_update is None
                else (
                    when_matched_update_condition.eqNullSafe(F.lit(True))
                    if when_matched_update_condition is not None
                    else F.lit(True)
                )
            )
            ckpt = (
                frame.withColumns(
                    {
                        "__is_del": F.when(matched, del_cond).otherwise(
                            False
                        ),
                        "__is_upd": F.when(matched, upd_cond).otherwise(
                            False
                        ),
                        "__is_ins": F.when(matched, False).otherwise(
                            ins_flag
                        ),
                    }
                )
                .filter(matched | F.col("__is_ins"))
                .localCheckpoint(eager=True)
            )
        MERGE_METRICS["detect_matched_sec"] = round(
            _mtime.perf_counter() - _ph0, 3
        )
        _ph0 = _mtime.perf_counter()
        if ckpt is not None:
            # ONE driver aggregate serves every fact the merge needs from
            # the checkpoint: the per-(file, pos) match multiplicity (the
            # ambiguity guard), the distinct files carrying a clause hit
            # (the affected-file set), and the post-image and insert row
            # counts (which branches write at all — no emptiness probes).
            # Rows collected = distinct matched files + one NULL-file
            # group for the insert candidates: metadata scale. Without
            # matched clauses every row is an insert candidate, so the
            # per-row level collapses onto the file level (one shuffle).
            stats = (
                ckpt.groupBy(
                    "__dv_file",
                    *(["__dv_pos"] if has_matched_clauses else []),
                )
                .agg(
                    F.count(F.lit(1)).alias("__c"),
                    F.max(
                        F.col("__is_del") | F.col("__is_upd")
                    ).alias("__t"),
                    F.sum(
                        (F.col("__is_upd") & ~F.col("__is_del")).cast(
                            "long"
                        )
                    ).alias("__np"),
                    F.sum(F.col("__is_ins").cast("long")).alias("__ni"),
                )
                .groupBy("__dv_file")
                .agg(
                    F.max("__c").alias("__maxc"),
                    F.max("__t").alias("__any_t"),
                    F.sum("__np").alias("__np"),
                    F.sum("__ni").alias("__ni"),
                )
                .collect()
            )
            # ambiguity guard (Delta's multiple-matches error): >1 source
            # row MATCHING one target row, a target row being (__dv_file,
            # __dv_pos). Matching follows the merge join itself (`=`), so
            # NULL join keys never match and cannot be ambiguous, and the
            # NULL-file group (the insert candidates) is not a target
            # row. An insert-only merge has no matched rows in the frame,
            # so it never raises: duplicate not-matched source rows
            # simply all insert, exactly like Delta.
            if any(
                r["__dv_file"] is not None and r["__maxc"] > 1
                for r in stats
            ):
                raise ValueError(
                    "merge_mor: multiple source rows match a single "
                    "target row on " + str(on) + " — deduplicate the "
                    "source first (the merge would be ambiguous)"
                )
            touched_files = [r["__dv_file"] for r in stats if r["__any_t"]]
            n_post = sum(r["__np"] for r in stats)
            n_ins = sum(r["__ni"] for r in stats)
        MERGE_METRICS["ambiguity_check_sec"] = round(
            _mtime.perf_counter() - _ph0, 3
        )
        _ph0 = _mtime.perf_counter()
        tomb = None
        if touched_files:
            tomb = ckpt.filter(
                F.col("__is_del") | F.col("__is_upd")
            ).select("__dv_file", "__dv_pos")
        dvdir, affected = None, []
        if nmbs_on:
            # target rows absent from the source: one anti-join on the
            # merge keys — the one branch that reads the target again, as
            # it must see every target row
            nmbs = mapped.join(src, key_cond, "left_anti")
            if when_not_matched_by_source_delete is not True:
                nmbs = nmbs.filter(
                    when_not_matched_by_source_delete.eqNullSafe(
                        F.lit(True)
                    )
                )
            nmbs = nmbs.select("__dv_file", "__dv_pos")
            # the anti-join is not part of the checkpoint: pin it so its
            # condition evaluates once for the files collect and the write
            dvdir, affected = self._stage_tombstones(
                (nmbs if tomb is None else tomb.unionAll(nmbs))
                .localCheckpoint(eager=True)
            )
        elif tomb is not None:
            dvdir, affected = self._stage_tombstones(tomb, touched_files)
        MERGE_METRICS["sidecar_write_sec"] = round(
            _mtime.perf_counter() - _ph0, 3
        )
        target_cols = [
            c for c in mapped.columns
            if c not in ("__dv_file", "__dv_pos", ROW_ID_COL)
        ]
        # post-images: the checkpointed rows whose pinned outcome is
        # update-not-delete (the same rows the sidecar was written from)
        post = None
        if n_post:
            # GENERATED columns the update clause didn't explicitly
            # assign are dropped so the write path recomputes them from
            # the updated inputs (same recompute rule as update_where);
            # explicitly-assigned ones stay and are `<=>`-validated.
            regen = {
                g
                for g in self._generated()
                if g in target_cols and g not in when_matched_update
            }
            pre = ckpt.filter(F.col("__is_upd") & ~F.col("__is_del"))
            out_cols = [c for c in target_cols if c not in regen]
            if track:
                out_cols.append(ROW_ID_COL)
            post = (
                pre.withColumns(when_matched_update)
                .select(*out_cols)
            )
        inserts = None
        if n_ins:
            inserts = ckpt.filter(F.col("__is_ins")).select(
                *[
                    F.col(f"__src_{c}").alias(c)
                    for c in source.columns
                ]
            )
            # align to the target's logical schema: target columns the
            # source omits surface as typed NULLs (the pre-merge rows'
            # types, not string-inferred) — EXCEPT generated columns
            # (stay absent so the write path computes them from the
            # aligned inputs instead of validating a NULL) and DEFAULT
            # columns (stay absent so the write path fills the default
            # — a MERGE INSERT omitting a defaulted column must get the
            # default, not a NULL)
            gens_all = self._generated()
            dfl_all = self._defaults()
            for f in mapped.schema.fields:
                if f.name in ("__dv_file", "__dv_pos", ROW_ID_COL):
                    continue  # inserts draw FRESH ids from their range
                if f.name not in inserts.columns and f.name not in (
                    gens_all.keys() | dfl_all.keys() | ident_all.keys()
                ):
                    inserts = inserts.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            # ids come from the checkpointed rows: the input is pinned,
            # so the one write assigns them once
            inserts = with_identity(inserts)
        # The update and insert branches write SEPARATELY: after the
        # generated-column drop their column sets can differ (post
        # recomputes a gen column the source happens to supply, or vice
        # versa), and a unioned write would surface NULLs for the
        # missing side and fail the writer-side validation. Each branch
        # passes through the same `_write_files` choke point, both file
        # lists land in the one atomic manifest.
        parts = [p for p in (post, inserts) if p is not None]
        if not affected and not parts:
            if txn_update:
                return self._publish(
                    m["files"], cur, m.get("stats") or {},
                    txn_update=txn_update, op="MERGE",
                )
            return cur  # nothing matched, nothing to insert
        _ph0 = _mtime.perf_counter()
        new: list[str] = []
        for p in parts:
            new += self._write_files(p)
        MERGE_METRICS["post_insert_write_sec"] = round(
            _mtime.perf_counter() - _ph0, 3
        )
        _ph0 = _mtime.perf_counter()
        # write-serializable rebase (as in delete/update): the MERGE
        # serializes before a concurrent pure append — a key both
        # insert is the append's concern under that order, exactly
        # Delta's blind-append allowance under WriteSerializable
        v_out = self._publish_with_rebase(
            m,
            cur,
            new,
            dv_sidecar=dvdir,
            affected=affected,
            # only the insert branch can extend the schema (post-images
            # project a subset of the existing target columns)
            schema_map=(
                self._extend_schema_map(m, inserts)
                if inserts is not None
                else _UNSET
            ),
            op="MERGE",
            types=self._merged_types(m, *parts),
            txn_update=txn_update,
        )
        MERGE_METRICS["publish_sec"] = round(
            _mtime.perf_counter() - _ph0, 3
        )
        return v_out

    def materialize_deletes(self) -> int:
        """Fold accumulated deletion vectors into rewritten files (the
        OPTIMIZE half of merge-on-read): only DV-carrying files rewrite —
        a ``commit_replace`` whose replacement is their masked content —
        and their dv entries drop from the manifest. Untouched files keep
        byte identity; history keeps the tombstoned layout."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        dv_files = sorted(f for f in m["dv"] if m["dv"][f])
        if not dv_files:
            return cur
        return self.commit_replace(
            dv_files,
            self._preserving_scan(dv_files, m),
            op="MATERIALIZE DELETES",
        )

    def _preserving_scan(self, files: list[str], m: dict) -> DataFrame:
        """The rows of ``files`` as a PRESERVING rewrite (compaction,
        ``materialize_deletes``) writes them back: deletion vectors
        folded, PHYSICAL names kept (a post-rename compaction yields a
        mixed-era file carrying both names), and under row tracking
        every surviving row's permanent id materialized as the physical
        ``__row_id`` column of the replacement files."""
        return self._scan(
            files,
            m,
            row_ids=ROW_ID_COL if m.get("row_tracking") else None,
            smap=None,
        )

    # --------------------------------- rename/drop schema evolution ----
    def _schema_map_for_edit(self, m: dict) -> list[dict]:
        """The manifest's field-id map, bootstrapping one from the
        current physical union schema on first use (footer-only)."""
        if m["schema"] is not None:
            return [dict(e) for e in m["schema"]]
        if not m["files"]:
            return []
        names = self._scan(m["files"], m, mask=False).columns
        return [
            {"id": i, "name": n, "prior": []} for i, n in enumerate(names)
        ]

    def _reject_constrained(self, m: dict, col: str, op: str) -> None:
        """Renaming/dropping a column a CHECK constraint references
        would brick every subsequent write (the stored expression names
        a column that no longer resolves) — reject up front, exactly as
        the reference formats block schema changes under dependent
        constraints. Reference detection is a word-boundary match on the
        stored SQL text (constraints here are simple column-level
        boolean expressions; a false positive merely asks the user to
        drop/re-add the constraint around the schema change)."""
        import re

        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(col)}(?![A-Za-z0-9_])")
        hits = [
            n
            for n, sql in (m.get("constraints") or {}).items()
            if pat.search(sql)
        ]
        if hits:
            raise ValueError(
                f"cannot {op} column {col!r}: referenced by CHECK "
                f"constraint(s) {hits} — drop them first"
            )
        gen_hits = [
            n
            for n, sql in (m.get("generated") or {}).items()
            if n == col or pat.search(sql)
        ]
        if gen_hits:
            raise ValueError(
                f"cannot {op} column {col!r}: it is (or is referenced "
                f"by) generated column(s) {gen_hits} — drop the "
                "generation expression first"
            )
        # DEFAULT / identity specs store the logical column name —
        # renaming or dropping out from under them would orphan the
        # writer contract; same posture as constraints
        if col in (m.get("defaults") or {}):
            raise ValueError(
                f"cannot {op} column {col!r}: it has a DEFAULT — "
                "drop_column_default first"
            )
        if col in (m.get("identity") or {}):
            raise ValueError(
                f"cannot {op} column {col!r}: it is an identity column"
            )
        # the partition spec stores LOGICAL column names (it is applied
        # to incoming DataFrames, which carry logical names) — renaming
        # or dropping a spec column would make every subsequent write
        # raise "spec columns missing". Same posture as constraints:
        # evolve the spec first (set_partition_spec), then the schema.
        if col in spec_source_columns(m.get("partition_spec") or []):
            raise ValueError(
                f"cannot {op} column {col!r}: it is a partition-spec "
                "column — change the spec first (set_partition_spec)"
            )

    def rename_column(self, old: str, new: str) -> int:
        """METADATA-ONLY column rename (Iceberg semantics, via field
        ids): zero data files touched; the field keeps its id, the old
        physical name joins its ``prior`` list, and every reader
        coalesces the historical names onto the new one — so files
        written before the rename read back under the new name, never as
        drop+add. Re-using a dropped/old name for a NEW column is
        rejected: the coalesce mapping would conflate the two fields.
        Renaming a column referenced by a CHECK constraint is rejected
        (the stored expression would stop resolving)."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        self._reject_constrained(m, old, "rename")
        sm = self._schema_map_for_edit(m)
        ent = next(
            (
                e
                for e in sm
                if e["name"] == old and not e.get("dropped")
            ),
            None,
        )
        if ent is None:
            raise KeyError(f"no column named {old!r}")
        taken = {n for e in sm for n in (e["name"], *e.get("prior", []))}
        if new in taken:
            raise ValueError(
                f"{new!r} is (or historically was) another column"
            )
        ent.setdefault("prior", []).insert(0, old)
        ent["name"] = new
        # layout properties name columns by their LOGICAL name: carry
        # the rename into bucket.by / cluster.by in the same commit, or
        # every subsequent append would fail looking for the old name
        # (the files stay hash-correct — values didn't change)
        props = dict(m.get("properties") or {})
        props_changed = False
        bb = props.get("bucket.by")
        if bb:
            col, _, n = str(bb).partition(":")
            if col.strip() == old:
                props["bucket.by"] = f"{new}:{n.strip()}"
                props_changed = True
        cb = props.get("cluster.by")
        if cb:
            cols = [c.strip() for c in str(cb).split(",")]
            if old in cols:
                props["cluster.by"] = ",".join(
                    new if c == old else c for c in cols
                )
                props_changed = True
        kw: dict = {}
        if props_changed:
            kw["properties"] = props
        return self._publish(
            m["files"], cur, m["stats"], schema_map=sm,
            op="RENAME COLUMN", **kw,
        )

    def drop_column(self, name: str) -> int:
        """METADATA-ONLY column drop: the field is TOMBSTONED in the id
        map (``dropped: true``), so readers stop projecting it; bytes
        stay until files churn. The tombstone (not removal) is what
        keeps the field's historical names reserved — a later commit
        re-using the name would otherwise bind a NEW field to the OLD
        physical bytes and resurrect deleted data (_extend_schema_map
        rejects exactly that). Dropping a constrained column is
        rejected."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        self._reject_constrained(m, name, "drop")
        props = m.get("properties") or {}
        bb = str(props.get("bucket.by") or "").partition(":")[0].strip()
        cb = [
            c.strip()
            for c in str(props.get("cluster.by") or "").split(",")
            if c.strip()
        ]
        if name == bb or name in cb:
            # the declared layout hashes/sorts on this column: dropping
            # it would wedge every subsequent append
            raise ValueError(
                f"cannot drop {name!r}: it is the table's declared "
                "bucket.by/cluster.by layout column"
            )
        sm = self._schema_map_for_edit(m)
        ent = next(
            (
                e
                for e in sm
                if e["name"] == name and not e.get("dropped")
            ),
            None,
        )
        if ent is None:
            raise KeyError(f"no column named {name!r}")
        ent["dropped"] = True
        return self._publish(
            m["files"], cur, m["stats"], schema_map=sm,
            op="DROP COLUMN",
        )

    def pruned_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[list[str], int]:
        """Manifest-only zone-map pruning (Iceberg/Delta data skipping):
        split a snapshot's file list into (must-read, total) using the
        min/max stats BANKED IN THE TRANSACTION LOG at commit time — zero
        file opens, zero footer reads, zero Spark jobs at read time. At
        100 TB the planner decides which of ~100k files to scan from a
        few MB of log metadata. A file without stats for ``col`` is
        conservatively kept (absent stats can waste a read, never lose a
        row). Bounds compare in the stat's JSON domain — numerics
        natively, dates/timestamps as ISO strings."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        # a renamed column's stats are banked under the physical name
        # each file was written with — and a MIXED-ERA file (produced by
        # compaction/materialize after a rename) physically carries BOTH
        # names, so the bound must be alias-GROUPED (file excluded only
        # when every banked alias excludes), not spread as independent
        # AND-ed bounds, or post-OPTIMIZE files lose their pre-rename
        # rows to mispruning. zone_prune owns that logic.
        aliases = {}
        for ent in m["schema"] or []:
            if ent["name"] == col and ent.get("prior"):
                aliases[col] = list(ent["prior"])
        keep = zone_prune(
            m["files"], m["stats"], {col: (lo, hi)}, aliases
        )
        return keep, len(m["files"])

    def read_where(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Snapshot read with manifest-stats file pruning; the residual
        per-row filter still applies downstream (zone maps prune files,
        not rows). Deletion vectors and the field-id schema map apply the
        same as ``read``."""
        files, _ = self.pruned_files(col, lo, hi, version)
        if not files:
            return self.read(version).limit(0)
        v = self.current_version() if version is None else version
        return self._scan(files, load_manifest(self.root, v))

    def read_changes(
        self, from_version: int, to_version: int
    ) -> DataFrame:
        """Row-level change feed between two snapshots (the Delta CDF
        capability), derived purely from the manifest diff — no per-commit
        change files are ever written. Because data files are immutable, a
        file present in both manifests cannot have changed and is NEVER
        read; only the churned files (added or dropped between the two
        versions) scan, so the cost is O(churn), not O(table) — at 100 TB
        a day's ingest reads a day's files.

        Semantics (multiset, so duplicates are respected):

        * ``insert`` rows = rows of added files  EXCEPT ALL  rows of
          removed files — a compaction rewrite carries every row forward,
          so the two sides cancel and a pure-layout commit reports zero
          changes;
        * ``delete`` rows = rows of removed files EXCEPT ALL rows of
          added files;
        * an UPDATE surfaces as its delete/insert pair (the pre-image and
          post-image), exactly as Delta CDF reports rewrites without a
          change log.

        Mechanism: one signed count computes both EXCEPT ALLs (the plan
        Spark's own EXCEPT ALL rewrite builds, once instead of twice).
        Added-file rows count +1 (masked by the to-version's deletion
        vectors), removed-file rows -1 (masked by the from-version's);
        one aggregate groups the union by every column, and a group
        whose net count n is non-zero surfaces |n| times, as an
        ``insert`` when n > 0 and a ``delete`` when n < 0. Each churned
        file is scanned once, and one shuffle does the netting.

        Columns are aligned to the ``to_version`` schema (additive
        evolution: pre-evolution rows surface new columns as NULL; a
        rename maps both eras onto the current name via the field-id
        map): every scan of the call reads under the one reader schema
        ``_change_span`` fixes. Deletion-vector commits are
        file-identity-preserving, so they surface through the DV legs,
        outside the netting: for files shared by both manifests,
        positions tombstoned in between are read back (O(affected
        files)) and reported as deletes, and positions visible again
        as inserts.
        """
        ma, mb, reader, empty = self._change_span(from_version, to_version)
        if empty is not None:
            return empty
        a, b = set(ma["files"]), set(mb["files"])

        def scan(files: list[str], m: dict, **kw) -> DataFrame:
            return self._scan(
                files, m, smap=mb["schema"], reader=reader, **kw
            )

        legs = [
            scan(sorted(files), m).withColumn("__cdf_n", F.lit(sign))
            for files, m, sign in ((b - a, mb, 1), (a - b, ma, -1))
            if files
        ]
        changes: list[DataFrame] = []
        if legs:
            signed = reduce(DataFrame.unionAll, legs)
            cols = signed.columns[:-1]
            n = F.col("__cdf_n")
            changes.append(
                signed.groupBy(*cols)
                .agg(F.sum(n).alias("__cdf_n"))
                .filter(n != 0)
                .withColumn(  # |n| copies of the group's row
                    "__cdf_n",
                    F.explode(F.array_repeat(n, F.abs(n).cast("int"))),
                )
                .select(
                    *cols,
                    F.when(n > 0, "insert").otherwise("delete")
                    .alias("_change_type"),
                )
            )
        # the DV legs, one per direction: shared files whose tombstone
        # set GREW report the newly tombstoned positions as deletes; a
        # set that SHRANK (RESTORE to a pre-delete version keeps the
        # file but drops its sidecars) reports the positions visible
        # again as inserts, or a CDF consumer (an incremental MV, a
        # downstream sync) silently loses the resurrected rows
        for dv_from, dv_to, kind in (
            (ma["dv"], mb["dv"], "delete"),
            (mb["dv"], ma["dv"], "insert"),
        ):
            files = sorted(
                f
                for f in a & b
                if set(dv_to.get(f, [])) - set(dv_from.get(f, []))
            )
            if not files:
                continue
            hit = self._dv_rows({f: dv_to[f] for f in files})
            still = {f: dv_from[f] for f in files if dv_from.get(f)}
            if still:
                hit = hit.join(
                    self._dv_rows(still), ["__dv_file", "__dv_pos"],
                    "left_anti",
                )
            rows = scan(files, mb, mask=False, provenance=True).join(
                hit, ["__dv_file", "__dv_pos"], "left_semi"
            )
            changes.append(
                rows.drop("__dv_file", "__dv_pos").withColumn(
                    "_change_type", F.lit(kind)
                )
            )
        return reduce(DataFrame.unionAll, changes)

    def _change_span(
        self, from_version: int, to_version: int
    ) -> tuple[dict, dict, StructType | str | None, DataFrame | None]:
        """The prologue both change feeds share: the two manifests, and
        either the reader schema every scan of the call uses or — when
        no file was touched — the empty result. Touched = added,
        removed, or shared with a changed deletion-vector set. The
        reader is the to-version's banked reader schema when it banks
        types, else the mergeSchema footer union over the touched files
        only: the call's one footer job, O(churn) files (deriving it
        from the full to-version snapshot would cost O(table) footer
        reads per poll). Rows come exclusively from touched files, so a
        column that exists only in untouched files cannot appear in a
        change, and every leg read under this reader projects through
        the to-version's field-id map onto the same columns."""
        ma = (
            load_manifest(self.root, from_version)
            if from_version > 0
            else {"files": [], "dv": {}, "schema": None}
        )
        mb = load_manifest(self.root, to_version)
        a, b = set(ma["files"]), set(mb["files"])
        touched = sorted(
            (a ^ b)
            | {
                f
                for f in a & b
                if set(ma["dv"].get(f, [])) != set(mb["dv"].get(f, []))
            }
        )
        if touched:
            reader = self._reader_ddl(mb) or (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*touched).schema
            )
            return ma, mb, reader, None
        template = sorted(b) or sorted(a)
        if not template:  # both versions empty: no rows, no columns
            return ma, mb, None, self.spark.createDataFrame(
                [], "_change_type string"
            )
        empty = self._scan(template[:1], mb, mask=False).limit(0)
        return ma, mb, None, empty.withColumn("_change_type", F.lit("insert"))

    def optimize_small_files(
        self,
        small_threshold: int,
        target_bytes: int,
        z_cols: tuple[str, str] | None = None,
        where_eq: dict | None = None,
        candidate_files: list[str] | None = None,
    ) -> dict[str, int]:
        """Transactional OPTIMIZE (Delta's compaction-as-a-commit): plan
        from METADATA only — file sizes read from the MANIFEST (every
        commit banks its files' byte sizes; only files from
        pre-banking manifests fall back to a stat call), pick the files
        under
        ``small_threshold``, bin-pack them into ``target_bytes`` outputs,
        and publish ONE ``commit_replace`` that swaps exactly those files
        — large files keep their byte identity and historical versions
        keep the old layout. Work is O(small files); concurrent readers
        are never disturbed (snapshot isolation), and a racing writer
        conflicts on the manifest, not on data.

        With ``z_cols=(a, b)`` the rewrite also CLUSTERS the compacted
        rows along the Morton curve of the two columns (Delta's
        ``OPTIMIZE ... ZORDER BY``): each output file owns a contiguous
        curve segment — a bounded region in BOTH dimensions — so footer
        and manifest stats prune on either column afterwards. That path
        shuffles the small-file rows once (a layout job, priced per
        OPTIMIZE run, not per query); the default path is a shuffle-free
        coalesce."""
        import math

        cur = self.current_version()
        m = load_manifest(self.root, cur)
        files = m["files"]
        banked = m.get("sizes") or {}
        sizes = {
            f: (
                banked[f] if f in banked else os.path.getsize(f)
            )
            for f in files
        }
        candidates = files
        if candidate_files is not None:
            # caller-scoped OPTIMIZE (auto-compaction passes the exact
            # partition's files): intersect with the head's visible set
            # so a racing rewrite can't resurrect a replaced file
            fset = set(files)
            candidates = [f for f in candidate_files if f in fset]
        elif where_eq:
            # partition-scoped OPTIMIZE (Delta's OPTIMIZE ... WHERE):
            # only the named partition's files are candidates — the
            # daily shape is "compact today's partition", O(one
            # partition) instead of a whole-table sweep. The path-value
            # walk is conservative toward INCLUSION (an unknown file
            # may compact — harmless), and files outside the scope are
            # untouched by construction (commit_replace removes only
            # the compacted set).
            candidates = self.partition_pruned_files(where_eq, cur)
        small = [f for f in candidates if sizes[f] < small_threshold]
        if len(small) <= 1:
            return {
                "n_files_before": len(files),
                "n_small": len(small),
                "n_files_after": len(files),
                "version": cur,
            }
        n_bins = max(1, math.ceil(sum(sizes[f] for f in small) / target_bytes))
        # compaction MATERIALIZES the compacted files' deletion vectors
        # (their dv entries drop with the files)
        packed = self._preserving_scan(small, m)
        order_within = None
        spec = self._partition_spec()
        if z_cols is not None and spec:
            # partition spec + ZORDER (Delta's recommended layout:
            # partition by a coarse column, z-cluster within): the spec
            # repartition in _write_files decides WHICH file a row
            # lands in, so pre-bucketing by curve range would be undone
            # — instead the Morton key rides as a WRITE-TIME sort
            # inside each partition file (literal-bound normalization:
            # the min/max scalars collect once, 4 values, then the key
            # is a pure codegen'd expression).
            from ..operators.zorder import normalize_to_bits, z_value

            a, b = z_cols
            lim = packed.agg(
                F.min(a).cast("bigint"),
                F.max(a).cast("bigint"),
                F.min(b).cast("bigint"),
                F.max(b).cast("bigint"),
            ).collect()[0]
            if lim[0] is not None and lim[2] is not None:
                order_within = [
                    z_value(
                        normalize_to_bits(
                            F.col(a), F.lit(lim[0]), F.lit(lim[1])
                        ),
                        normalize_to_bits(
                            F.col(b), F.lit(lim[2]), F.lit(lim[3])
                        ),
                    )
                ]
        elif z_cols is not None:
            from ..operators.zorder import z_order_key

            packed = (
                z_order_key(packed, *z_cols)
                .repartitionByRange(n_bins, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            packed = packed.coalesce(n_bins)
        v = self.commit_replace(
            small, packed, op="OPTIMIZE", order_within=order_within
        )
        return {
            "n_files_before": len(files),
            "n_small": len(small),
            "n_files_after": self.file_count(v),
            "version": v,
        }

    def rewrite_physical(self) -> dict[str, int]:
        """``OPTIMIZE ... REWRITE PHYSICAL`` — one-time physical rebind
        (VERDICT-r10 directive #4): rewrite every live file whose
        PHYSICAL shape has drifted from the current logical schema, then
        publish a manifest with NO schema map — after which the table's
        physical and logical schemas are identical again and
        ``register_bucketed_view`` serves cases it must otherwise
        refuse. A file is rewritten when it

        * carries a PRIOR physical name of a live field (pre-rename
          era) or any bytes of a DROPPED field (purged, Delta's
          ``REORG ... PURGE`` shape),
        * carries a deletion vector (folded into the replacement), or
        * stores a banked-width column at a NARROWER physical type
          (pre-widening era; the replacement lands at the banked
          width).

        Rewritten rows pass back through ``_write_files``, so a
        bucketed table re-hashes them with the CURRENT name and width —
        bucket membership depends on values, not names, and every
        replacement file re-earns the murmur3 file-name contract. The
        metadata rebind (schema map -> None) is what restores the
        zero-Exchange co-partitioned join after a BUCKET-column rename:
        the join key is a plain physical attribute again instead of a
        coalesce Catalyst can't match to the storage distribution.

        Untouched files keep their byte identity (and their banked
        stats/blooms); older versions time-travel through their own
        manifests, whose maps still describe the old files. Detection
        is one footer read per live file; past
        ``DISTRIBUTED_STATS_THRESHOLD`` files the sweep fans out as a
        Spark job (``_physical_drift_one``) exactly like stats
        collection, so a 100k-file table detects drift at cluster
        parallelism."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        files = m["files"]
        if not files:
            raise ValueError("REWRITE PHYSICAL of an empty table")
        sm = m.get("schema") or []
        dv = {f: v for f, v in (m.get("dv") or {}).items() if v}
        live = [e for e in sm if not e.get("dropped")]
        # any historical-only physical name: prior names of live
        # fields, plus every name a dropped field ever had
        hist = {p for e in live for p in e.get("prior", [])}
        for e in sm:
            if e.get("dropped"):
                hist |= {e["name"], *e.get("prior", [])}
        banked = {
            k: v.lower() for k, v in (m.get("types") or {}).items()
        }
        cur_of = {
            p: e["name"]
            for e in live
            for p in (e["name"], *e.get("prior", []))
        }
        undv = [f for f in files if not dv.get(f)]
        if len(undv) >= self.DISTRIBUTED_STATS_THRESHOLD:
            # the detection sweep fans out like _footer_stats: a
            # 100k-file table reads footers at cluster parallelism and
            # only (path, drifted, err) tuples return to the driver
            sc = self.spark.sparkContext
            n_slices = max(1, min(len(undv) // 16, 256))
            drift = dict(
                sc.parallelize(undv, n_slices)
                .map(
                    lambda p: (
                        p,
                        _physical_drift_one(p, hist, banked, cur_of),
                    )
                )
                .collect()
            )
        else:
            drift = {
                p: _physical_drift_one(p, hist, banked, cur_of)
                for p in undv
            }
        bad = sorted(e for _d, e in drift.values() if e)
        if bad:
            raise ValueError(
                "REWRITE PHYSICAL cannot represent " + "; ".join(bad)
            )
        targets = [
            f for f in files if dv.get(f) or drift.get(f, (False,))[0]
        ]
        tset = set(targets)
        keep = [f for f in files if f not in tset]
        if not targets and not sm:
            # physically clean already — nothing to rewrite or rebind
            return {
                "n_files_rewritten": 0,
                "n_files_kept": len(keep),
                "version": cur,
            }
        new: list[str] = []
        if targets:
            # the table's OWN read path, restricted to the drifted
            # files: DV rows masked, prior names coalesced onto
            # current ones, narrow widths upcast by the explicit
            # reader schema — the replacement rows ARE the logical
            # truth of those files
            # a cluster.by table's replacement files are laid out along
            # the declared Morton key exactly as an append lays them
            # out, one replacement per rewritten file, so the rewrite
            # never degrades the zone-map locality the layout exists for
            _cols, rows, order_within = self._cluster_layout(
                self._scan(targets, m), m, n_files=len(targets)
            )
            new = self._write_files(rows, order_within=order_within)
        visible = keep + new
        stats = self._merged_stats(cur, new, None)
        v = self._publish(
            visible,
            cur,
            {f: stats.get(f, {}) for f in visible},
            # every DV'd file was rewritten with its deletes folded
            dv={},
            # THE REBIND: no live file carries a historical name or a
            # narrow width anymore, so the physical schema IS the
            # logical schema — and the old names' reservations lift
            # (their bytes are gone from every live file; old
            # versions keep their own maps)
            schema_map=None,
            blooms=(
                self._extend_blooms(m, new)
                if m.get("bloom_cols")
                else _UNSET
            ),
            op="REWRITE PHYSICAL",
        )
        return {
            "n_files_rewritten": len(targets),
            "n_files_kept": len(keep),
            "version": v,
        }

    def read_changes_images(
        self, from_version: int, to_version: int
    ) -> DataFrame:
        """Change feed with UPDATE PRE/POST IMAGES (Delta CDF's
        ``update_preimage`` / ``update_postimage`` change types),
        derived by pairing the two halves of each change on the
        PERMANENT ROW ID (requires row tracking on both versions).
        ``read_changes`` reports an update as an anonymous
        delete+insert pair; downstream consumers that need to know
        "this is the same row, before and after" (auditing, CDC
        replication into systems keyed by surrogate ids, incremental
        ML feature back-outs) get the correlation here for free from
        the row-id machinery — no change log is ever written.

        Cost model identical to ``read_changes``: only churned files
        scan (added/removed between the versions, plus shared files
        whose deletion-vector set changed), both sides under the call's
        one reader schema, and ONE aggregate keyed by the scalar id
        pairs each id's from-image with its to-image, O(churn) — rows a
        compaction carried forward match themselves with equal values
        and cancel.

        Change types: ``insert`` (id only at ``to``), ``delete`` (id
        only at ``from``), ``update_preimage``/``update_postimage``
        (id on both sides with different values — one output row
        each, the pre-image carrying the FROM values)."""
        ma, mb, reader, empty = self._change_span(from_version, to_version)
        if not mb.get("row_tracking") or (
            from_version > 0 and not ma.get("row_tracking")
        ):
            raise ValueError(
                "read_changes_images requires row tracking "
                "(enable_row_tracking) on both versions — without "
                "permanent ids the halves of an update cannot be "
                "paired; use read_changes for the delete/insert form"
            )
        if empty is not None:
            return empty
        a, b = set(ma["files"]), set(mb["files"])
        dv_changed = sorted(
            f
            for f in a & b
            if set(ma["dv"].get(f, [])) != set(mb["dv"].get(f, []))
        )
        # both sides read under the call's one reader (a side with no
        # files is a typed empty scan)
        both = reduce(DataFrame.unionAll, [
            self._scan(
                sorted(files) + dv_changed, m, row_ids="_row_id",
                smap=mb["schema"], reader=reader,
            ).withColumn("__side", F.lit(side))
            for files, m, side in ((a - b, ma, "old"), (b - a, mb, "new"))
        ])
        data_cols = [c for c in both.columns if c not in ("_row_id", "__side")]
        # one aggregate on the permanent id pairs the from-image with the
        # to-image (an id has at most one row per side)
        images = [
            F.first(
                F.when(F.col("__side") == side, F.struct(*data_cols)),
                ignorenulls=True,
            ).alias(side)
            for side in ("old", "new")
        ]
        o, n = F.col("old"), F.col("new")
        upd = o.isNotNull() & n.isNotNull() & ~o.eqNullSafe(n)
        emit = F.explode(F.array(
            F.struct(n.alias("v"), F.when(o.isNull(), "insert")
                     .when(upd, "update_postimage").alias("t")),
            F.struct(o.alias("v"), F.when(n.isNull(), "delete")
                     .when(upd, "update_preimage").alias("t")),
        ))
        return (
            both.groupBy("_row_id").agg(*images)
            .select(emit.alias("c"))
            .filter(F.col("c.t").isNotNull())
            .select(
                *[F.col(f"c.v.{c}").alias(c) for c in data_cols],
                F.col("c.t").alias("_change_type"),
            )
        )

    def read_change_feed(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Delta-CDF-shaped PER-COMMIT change feed at the table level:
        one ``read_changes(v-1, v)`` leg per version in the range,
        annotated with ``_commit_version`` and ``_commit_timestamp`` —
        unlike the endpoint diff (``read_changes``), intermediate churn
        is attributed to the commit that caused it rather than
        cancelling out, which is what an audit/debezium-style consumer
        needs. Cost is the sum of per-commit churns, still O(changed
        files) per commit and never O(table); columns union by name
        across versions (additive evolution surfaces later columns as
        NULL in earlier commits' rows)."""
        if to_version is None:
            to_version = self.current_version()
        if to_version <= from_version:
            raise ValueError(
                f"empty version range ({from_version}, {to_version}]"
            )
        legs = []
        for v in range(from_version + 1, to_version + 1):
            ts = load_manifest(self.root, v).get("ts")
            legs.append(self.read_changes(v - 1, v).withColumns(
                {
                    "_commit_version": F.lit(v).cast("long"),
                    "_commit_timestamp": (
                        F.timestamp_seconds(F.lit(ts))
                        if ts is not None
                        else F.lit(None).cast("timestamp")
                    ),
                }
            ))
        return reduce(
            lambda x, y: x.unionByName(y, allowMissingColumns=True), legs
        )

    def changes_since(
        self, cursor: int
    ) -> tuple[DataFrame | None, int]:
        """Incremental consumption of the snapshot log (the Delta
        streaming-source shape): return the row-level changes committed
        AFTER ``cursor`` plus the new cursor to persist. Each committed
        version is delivered exactly once across successive calls —
        the cursor is the version number, so the consumer's bookkeeping
        is one integer, and a crash between read and cursor-persist
        replays (at-least-once) without ever skipping. ``cursor=0``
        means "from the beginning" (everything visible at head is an
        insert). Returns (None, cursor) when there is nothing new —
        callers skip scheduling work entirely."""
        head = self.current_version()
        if head == cursor:
            return None, cursor
        return self.read_changes(cursor, head), head

    # ------------------------------------------ CHECK constraints ----
    def add_constraint(self, name: str, expr_sql: str) -> int:
        """Register a CHECK constraint (Delta's ``ADD CONSTRAINT``): a
        SQL boolean expression stored in the manifest and enforced
        against EVERY subsequent append/update — a writer-side contract,
        so a 100 TB table never needs a repair scan. Adding a constraint
        validates the CURRENT snapshot first (one aggregated scan: the
        count of violating rows crosses the driver, never the rows)."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        cons = dict(m.get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        if m["files"]:
            bad = (
                self.read()
                .filter(~F.expr(expr_sql).eqNullSafe(F.lit(True)))
                .count()
            )
            if bad:
                raise ValueError(
                    f"constraint {name!r} ({expr_sql}) is violated by "
                    f"{bad} existing row(s)"
                )
        cons[name] = expr_sql
        return self._publish(
            m["files"], cur, m["stats"], constraints=cons,
            op="ADD CONSTRAINT",
        )

    def drop_constraint(self, name: str) -> int:
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        cons = dict(m.get("constraints", {}))
        cons.pop(name, None)
        return self._publish(
            m["files"], cur, m["stats"], constraints=cons,
            op="DROP CONSTRAINT",
        )

    # --------------------------------------------- partition spec ----
    #: partition columns are restricted to types whose path encoding
    #: round-trips exactly — string/integral/boolean/date. Floats and
    #: timestamps don't (locale/precision rendering), and a mis-parsed
    #: partition value would mis-prune.
    _PARTITIONABLE = ("string", "tinyint", "smallint", "int", "bigint",
                      "boolean", "date")

    def _partition_spec(self) -> list[str]:
        """The head manifest's partition spec (identity columns)."""
        cur = self.current_version()
        if cur == 0:
            return []
        return load_manifest(self.root, cur).get("partition_spec") or []

    def _bucket_spec(self) -> tuple[str, int] | None:
        """The declared hash-bucket layout, from the ``bucket.by``
        table property (``"col:n"``). When set, every write routes
        through Spark's NATIVE bucketed writer so the emitted files
        carry the murmur3 bucket-id file-name contract the catalog
        bucketed scan trusts — the precondition for
        ``register_bucketed_view``'s shuffle-free co-partitioned joins
        (Spark's storage-partitioned-join posture, expressed through
        the session catalog because a Python DataSource cannot report
        a partitioning to Catalyst). Malformed values raise — a
        silently dropped layout would shuffle every downstream join."""
        cur = self.current_version()
        if cur == 0:
            return None
        props = load_manifest(self.root, cur).get("properties") or {}
        bb = props.get("bucket.by")
        if not bb:
            return None
        if props.get("cluster.by"):
            raise ValueError(
                "bucket.by and cluster.by are mutually exclusive "
                "layouts: buckets fix file membership by key hash, "
                "clustering by curve range"
            )
        parts = [p.strip() for p in str(bb).split(":")]
        if len(parts) != 2 or not parts[0]:
            raise ValueError(
                f"table property bucket.by must be 'col:n', got {bb!r}"
            )
        try:
            n = int(parts[1])
        except ValueError:
            n = 0
        if not 1 <= n <= 4096:
            raise ValueError(
                f"bucket.by bucket count must be 1..4096, got {bb!r}"
            )
        return parts[0], n

    def register_bucketed_view(
        self, name: str, dv_serve: str | None = None
    ) -> str:
        """Register the table's CURRENT snapshot as a session-catalog
        BUCKETED table, so joins/aggregations between co-bucketed
        snapshot tables elide their shuffle entirely (Spark's bucketed
        scan reports the hash distribution to Catalyst; two tables
        bucketed ``col:n`` on the same n join with ZERO Exchange — at
        100 TB, fact⋈fact on the bucket key without re-shuffling either
        side). Layout: one ``_cv=<i>`` partition per commit directory,
        each holding SYMLINKS to that commit's live files (snapshot
        isolation — dead files in the same dir are simply not linked;
        on an object store this materializes as a manifest listing, the
        Hive symlink-manifest pattern). The bucketed scan coalesces
        files of the same bucket id across partitions into one read
        split, so multi-commit tables keep the property.

        Schema evolution (round 10, VERDICT-r9 directive #4): RENAMED
        and DROPPED non-layout columns are served — the catalog table
        declares the PHYSICAL UNION schema (every live field's
        historical names, from the manifest's field-id map; a file
        missing a name reads NULL there), and a coalesce-projection
        VIEW on top surfaces each field once under its current name.
        The bucket column passes through the projection as a plain
        attribute, so Catalyst still sees the storage hash distribution
        and the join stays Exchange-free.

        Deletion vectors are served in two tiers. Point-delete sized
        (<4 MiB of sidecars / ≤10k positions): the view masks them with
        a per-file (basename, row_index) NOT-filter, the same mask the
        connector applies, and a Filter preserves the bucketed
        distribution. Bigger (round 11, up to ``DV_ANTI_JOIN_MAX_BYTES``
        of sidecars — millions of positions): the view becomes a
        broadcast LEFT ANTI JOIN against the sidecar parquet itself
        (symlink-farmed next to the data farm) — a BroadcastHashJoin
        preserves the STREAMED side's output partitioning, so the
        zero-Exchange co-bucketed join survives DVs far past what any
        inlined predicate could carry; the heavy side never moves, the
        DV side ships once per executor. ``dv_serve`` forces a tier
        ("inline"/"anti") — default picks by sidecar size.

        Type widening (round 10): served — the table declares the
        BANKED (wide) type and Spark 4's vectorized reader upcasts
        narrower files at scan time (int-family→bigint, float→double).

        Refused (fall back to the connector read, which handles them):
        a renamed or width-mixed BUCKET column (the join key's
        identity/hash domain would break — a coalesce is a derived
        expression Catalyst can't match to the distribution, and
        murmur3 hashes int/bigint differently), deletion vectors past
        the broadcastable anti-join tier (that much churn belongs in
        OPTIMIZE ... REWRITE PHYSICAL, not a standing mask), and
        cross-family physical type drift."""
        bspec = self._bucket_spec()
        if bspec is None:
            raise ValueError(
                "no bucket.by table property: SET TBLPROPERTIES "
                "('bucket.by'='col:n') before writing"
            )
        bcol, n_buckets = bspec
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        dv = {f: v for f, v in (m.get("dv") or {}).items() if v}
        if dv:
            # DVs are the POINT-delete path; the view applies them as a
            # per-file (basename, row_index) NOT-filter, which stays a
            # deterministic predicate (bucketing preserved) but lives in
            # the view text — bound it by sidecar bytes before reading.
            # Bulk deletes belong to commit_replace/OPTIMIZE, after
            # which the DVs are gone.
            if dv_serve not in (None, "inline", "anti"):
                raise ValueError(
                    f"dv_serve must be 'inline', 'anti' or None, "
                    f"got {dv_serve!r}"
                )
            sidecar_bytes = 0
            for d in sorted({p for lst in dv.values() for p in lst}):
                try:
                    sidecar_bytes += sum(
                        os.path.getsize(os.path.join(d, f))
                        for f in os.listdir(d)
                    )
                except OSError:
                    sidecar_bytes = self.DV_ANTI_JOIN_MAX_BYTES
                    break
            if sidecar_bytes >= self.DV_ANTI_JOIN_MAX_BYTES:
                raise ValueError(
                    "bucketed readback caps deletion vectors at "
                    "broadcast anti-join size "
                    f"({self.DV_ANTI_JOIN_MAX_BYTES >> 20} MiB of "
                    "sidecars); that much churn belongs in a rewrite — "
                    "run OPTIMIZE ... REWRITE PHYSICAL (or OPTIMIZE/"
                    "REORG PURGE) to fold the DVs into files, or read "
                    "through the connector instead"
                )
            if dv_serve == "inline" and sidecar_bytes >= 4 << 20:
                raise ValueError(
                    "dv_serve='inline' caps deletion vectors at point-"
                    "delete size (4 MiB of sidecars / 10k positions — "
                    "the view inlines them as a row-index filter); "
                    "use dv_serve='anti' (broadcast anti-join) or run "
                    "OPTIMIZE ... REWRITE PHYSICAL"
                )
            dv_anti = (
                dv_serve == "anti"
                or (dv_serve is None and sidecar_bytes >= 4 << 20)
            )
        else:
            dv_anti = False
        sm = m.get("schema") or []
        for ent in sm:
            if (
                not ent.get("dropped")
                and ent.get("prior")
                and ent["name"] == bcol
            ):
                raise ValueError(
                    "bucketed readback cannot serve a renamed BUCKET "
                    f"column ({ent['prior'][0]!r} -> {bcol!r}): the "
                    "join key would surface as a coalesce across "
                    "physical names, which Catalyst cannot match to "
                    "the storage hash distribution; run OPTIMIZE ... "
                    "REWRITE PHYSICAL to rebind the files to the "
                    "current name, or read through the connector "
                    "instead"
                )
        files = m["files"]
        if not files:
            raise ValueError("bucketed readback of an empty table")
        if m.get("types"):
            # banked reader types (DDL-declared or widened): the
            # catalog table declares the BANKED width, and Spark 4's
            # vectorized parquet reader upcasts a narrower file at scan
            # time (int-family -> bigint, float -> double — verified
            # empirically; the same mechanism Delta's type widening
            # rides). Files whose physical type is NOT a widenable
            # narrower of the banked type (cross-family drift) are
            # refused. One footer read per file, registration-time
            # only (in production these widths would be banked per-file
            # at write time).
            import pyarrow.parquet as _pq

            from pyspark.sql.pandas.types import from_arrow_schema

            banked = {
                k: v.lower() for k, v in m["types"].items()
            }
            # banked types key on the CURRENT logical name; resolve a
            # file's physical (possibly pre-rename) name through the
            # field-id map so a renamed-then-widened column is still
            # caught and refused
            cur_of = {
                p: ent["name"]
                for ent in sm
                for p in (ent["name"], *ent.get("prior", []))
            }
            for f in files:
                phys = from_arrow_schema(
                    _pq.ParquetFile(f).schema_arrow
                )
                for fld in phys.fields:
                    cur_name = cur_of.get(fld.name, fld.name)
                    want = banked.get(cur_name)
                    got = fld.dataType.simpleString().lower()
                    if want is None or got == want:
                        continue
                    if cur_name == bcol:
                        # the BUCKET column's physical width is the
                        # hash domain: murmur3(int) != murmur3(bigint)
                        # for the same value, so a width-mixed bucket
                        # column would silently mis-bucket the join —
                        # refuse, never upcast
                        raise ValueError(
                            "bucketed readback cannot serve a width-"
                            f"mixed bucket column: {fld.name!r} is "
                            f"{got} in {os.path.basename(f)} but "
                            f"{want} banked — murmur3 hashes the two "
                            "widths differently; run OPTIMIZE ... "
                            "REWRITE PHYSICAL to land every file at "
                            "the banked width, or read through the "
                            "connector instead"
                        )
                    try:
                        ok = widen_merge(got, want) == want
                    except ValueError:
                        ok = False
                    if not ok:
                        raise ValueError(
                            "bucketed readback cannot represent "
                            f"column {fld.name!r}: {got} in "
                            f"{os.path.basename(f)} does not widen "
                            f"to the banked {want}; read through "
                            "the connector instead"
                        )
        bad = [
            f
            for f in files
            if not re.search(r"_\d{5}\.", os.path.basename(f))
        ]
        if bad:
            raise ValueError(
                "file(s) lack the bucket-id name contract (written "
                f"before bucket.by was set?): {bad[:3]}"
            )
        groups: dict[str, list[str]] = {}
        for f in files:
            groups.setdefault(os.path.dirname(f), []).append(f)
        view_root = os.path.join(
            self.root, "_bucket_views", uuid.uuid4().hex[:12]
        )
        for i, d in enumerate(sorted(groups)):
            pd = os.path.join(view_root, f"_cv={i}")
            os.makedirs(pd)
            for f in groups[d]:
                os.symlink(
                    os.path.abspath(f),
                    os.path.join(pd, os.path.basename(f)),
                )
        schema = self.read(cur).schema
        if "_cv" in {f.name for f in schema.fields}:
            raise ValueError(
                "bucketed readback reserves the _cv partition column; "
                "rename the table's _cv column first"
            )
        # physical-union column layout: every live field contributes
        # ALL its historical names (typed with the field's current,
        # un-widened type — a file missing a name reads NULL there);
        # the projection surfaces each field once, coalescing across
        # eras exactly like the connector's _apply_schema_map
        dts = {f.name: f.dataType.simpleString() for f in schema.fields}
        col_defs: list[str] = []
        proj: list[str] = []
        aliased = False
        if sm:
            for ent in sm:
                if ent.get("dropped"):
                    continue  # tombstoned bytes never surface
                names = [ent["name"], *ent.get("prior", [])]
                for nm in names:
                    col_defs.append(f"`{nm}` {dts[ent['name']]}")
                if len(names) == 1:
                    proj.append(f"`{names[0]}`")
                else:
                    aliased = True
                    proj.append(
                        "coalesce("
                        + ", ".join(f"`{n}`" for n in names)
                        + f") AS `{ent['name']}`"
                    )
        else:
            col_defs = [
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in schema.fields
            ]
            proj = [f"`{f.name}`" for f in schema.fields]
        # deletion vectors ride the view as a deterministic per-file
        # (basename, row_index) NOT-filter — same mask ``_scan``
        # applies, and a Filter preserves the bucketed
        # scan's hash distribution, so MoR deletes keep the
        # Exchange-free join. Basenames are UUID-unique, so matching
        # the symlink's basename identifies the original file.
        dv_conds = []
        dv_farm = None
        if dv and not dv_anti:
            rows = self._dv_rows(dv).collect()  # point-delete sized
            if len(rows) > 10_000:
                if dv_serve == "inline":
                    raise ValueError(
                        "dv_serve='inline' caps deletion vectors at "
                        "10k positions; use dv_serve='anti' or run "
                        "OPTIMIZE ... REWRITE PHYSICAL"
                    )
                # sidecar bytes under-estimated the position count
                # (highly compressible runs); promote to the anti tier
                dv_anti = True
        if dv and dv_anti:
            # broadcast anti-join tier: symlink-farm the sidecar
            # parquet next to the data farm (same _bucket_views tree,
            # so the same ownership/cleanup rules apply) and let the
            # view read it directly — the positions NEVER pass through
            # the driver, and the mask ships as one broadcast
            dv_farm = view_root + "__dv"
            os.makedirs(dv_farm)
            k = 0
            for d in sorted({p for lst in dv.values() for p in lst}):
                for f in sorted(os.listdir(d)):
                    if f.startswith(("_", ".")):
                        continue
                    os.symlink(
                        os.path.abspath(os.path.join(d, f)),
                        os.path.join(dv_farm, f"{k:05d}_{f}"),
                    )
                    k += 1
        elif dv:
            by_file: dict[str, list[int]] = {}
            for r in rows:
                by_file.setdefault(r["__dv_file"], []).append(
                    int(r["__dv_pos"])
                )
            for f, pos in sorted(by_file.items()):
                base = os.path.basename(f).replace("'", "''")
                plist = ", ".join(str(p) for p in sorted(pos))
                dv_conds.append(
                    f"(_metadata.file_name = '{base}' AND "
                    f"_metadata.row_index IN ({plist}))"
                )
        use_view = aliased or bool(dv_conds) or dv_farm is not None
        tbl = f"{name}__phys" if use_view else name
        self._drop_owned_bucket_object(name)
        # drop the companion physical table too: a prior registration
        # may have used the view path (DVs since folded by OPTIMIZE,
        # say) and its __phys entry would otherwise go stale. Only the
        # view path NEEDS the name — a foreign table that merely
        # collides with it blocks nothing on the plain path
        self._drop_owned_bucket_object(
            f"{name}__phys", required=use_view
        )
        self.spark.sql(
            f"CREATE TABLE `{tbl}` ({', '.join(col_defs)}, `_cv` INT) "
            f"USING PARQUET PARTITIONED BY (_cv) "
            f"CLUSTERED BY (`{bcol}`) SORTED BY (`{bcol}`) "
            f"INTO {n_buckets} BUCKETS "
            f"LOCATION '{view_root}'"
        )
        for i in range(len(groups)):
            self.spark.sql(
                f"ALTER TABLE `{tbl}` ADD PARTITION (_cv={i})"
            )
        try:
            # bank sizeInBytes in the catalog (NOSCAN: stats the
            # symlinked files, no data read) so Catalyst's CBO sizes
            # the table natively — a small bucketed dim can then
            # auto-broadcast without hints, and join reordering sees
            # real numbers
            self.spark.sql(
                f"ANALYZE TABLE `{tbl}` COMPUTE STATISTICS NOSCAN"
            )
        except Exception:
            pass  # stats are an optimization, never a failure
        if use_view:
            # the view inlines to a Project(+Filter) over the bucketed
            # scan; the (unrenamed) bucket column survives as a plain
            # attribute and a Filter never changes partitioning, so the
            # hash distribution — and the Exchange-free join — survives
            # both the rename and the DV mask
            where = (
                f" WHERE NOT ({' OR '.join(dv_conds)})"
                if dv_conds
                else ""
            )
            hint, anti = "", ""
            if dv_farm is not None:
                # BroadcastHashJoin(LeftAnti) keeps the STREAMED side's
                # output partitioning, so the bucketed hash distribution
                # — and the Exchange-free co-bucketed join — survives a
                # DV mask too big to inline: the fact bytes never move,
                # the (file, position) set ships once per executor
                hint = "/*+ BROADCAST(d) */ "
                # no DISTINCT on the build side: LEFT ANTI excludes on
                # ANY match, so duplicate (file, pos) rows are harmless
                # — and skipping the dedup aggregate keeps the DV side
                # Exchange-free too (one BroadcastExchange, nothing
                # hash-partitioned anywhere in the plan)
                # _metadata.file_name reads the basename straight from
                # the scan's metadata struct — no per-row path split on
                # the 6M+-row streamed side (the split stays on the
                # small DV side only, where __dv_file is a data column)
                anti = (
                    f" LEFT ANTI JOIN parquet.`{dv_farm}` d ON "
                    "t._metadata.file_name"
                    " = element_at(split(d.__dv_file, '/'), -1) AND "
                    "t._metadata.row_index = d.__dv_pos"
                )
            self.spark.sql(
                f"CREATE VIEW `{name}` "
                "TBLPROPERTIES ('pysnap.bucketed_view'='true') "
                f"AS SELECT {hint}{', '.join(proj)} "
                f"FROM `{tbl}` t{anti}{where}"
            )
        return name

    def _drop_owned_bucket_object(
        self, nm: str, required: bool = True
    ) -> None:
        """Drop a catalog table/view ONLY if register_bucketed_view made
        it (external table rooted in a _bucket_views symlink farm, or a
        view carrying the pysnap.bucketed_view marker property) — never
        silently destroy a managed warehouse table or a user's object
        that happens to collide on name (ADVICE-r9 #1). With
        ``required=False`` a foreign object is left alone instead of
        raising (used for the optional __phys companion cleanup)."""
        if not self.spark.catalog.tableExists(nm):
            return
        detail = {
            r["col_name"].strip(): (r["data_type"] or "").strip()
            for r in self.spark.sql(
                f"DESCRIBE FORMATTED `{nm}`"
            ).collect()
        }
        if detail.get("Type", "").upper() == "VIEW":
            props = {
                r["key"]: r["value"]
                for r in self.spark.sql(
                    f"SHOW TBLPROPERTIES `{nm}`"
                ).collect()
            }
            if props.get("pysnap.bucketed_view") != "true":
                if not required:
                    return
                raise ValueError(
                    f"catalog view {nm!r} already exists and was not "
                    "created by register_bucketed_view; refusing to "
                    "replace it — DROP it explicitly or choose "
                    "another view name"
                )
            self.spark.sql(f"DROP VIEW IF EXISTS `{nm}`")
            return
        if "/_bucket_views/" not in detail.get("Location", ""):
            if not required:
                return
            raise ValueError(
                f"catalog table {nm!r} already exists and was not "
                "created by register_bucketed_view; refusing to "
                "replace it — DROP it explicitly or choose another "
                "view name"
            )
        self.spark.sql(f"DROP TABLE IF EXISTS `{nm}`")

    def _check_spec_types(
        self, entries: list[dict], dts: dict, raw: list[str]
    ) -> None:
        """Validate partition-spec entries against column types —
        shared by ``set_partition_spec`` (types from the head read)
        and ``create_table`` (types from the declared schema)."""
        for e in entries:
            c = e["col"]
            if c not in dts:
                raise KeyError(f"no column named {c!r}")
            dt = dts[c]
            if e["fn"] == "identity":
                if dt not in self._PARTITIONABLE:
                    raise ValueError(
                        f"partition column {c!r} has type {dt}; "
                        f"only {self._PARTITIONABLE} round-trip "
                        "through path encoding"
                    )
                continue
            if e["fn"] in ("day", "month"):
                ok = dt.startswith("timestamp") or dt == "date"
            elif e["fn"] == "trunc":
                ok = dt in ("tinyint", "smallint", "int", "bigint")
            else:  # bucket: anything Murmur3 hashes determinis.
                ok = dt in (
                    "tinyint", "smallint", "int", "bigint", "string"
                )
            if not ok:
                raise ValueError(
                    f"partition entry {raw[entries.index(e)]!r}: "
                    f"column {c!r} has type {dt}, unsupported for "
                    f"transform {e['fn']!r}"
                )

    def set_partition_spec(self, cols: list[str]) -> int:
        """Register (or change — PARTITION EVOLUTION, Iceberg's shape) a
        table-level identity partition spec: every subsequent write
        clusters its files by the spec columns under ``__part_<col>=``
        path segments, one file per live partition value per commit,
        with the source columns RETAINED in the data files so every
        read path sees ordinary parquet. EXISTING files are never
        rewritten: the spec is a forward contract, old-layout files
        simply miss the path segments and partition-pruned reads keep
        them conservatively — changing the spec is a metadata-only
        commit at any table size, the operation that forces a full
        table rewrite on Hive-partitioned layouts. ``cols=[]`` drops
        the spec. Columns must exist (on a non-empty table), carry a
        path-round-trippable type, and generated columns are allowed
        (they're computed before the layout split)."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}, "dv": {}}
        )
        entries = [parse_spec_entry(e) for e in cols]  # validates syntax
        if cols and self._bucket_spec() is not None:
            # mirror of the set_tblproperties guard: a spec'd write
            # skips the bucketed writer, so declaring a spec over a
            # bucket.by table would silently stop stamping bucket ids
            raise ValueError(
                "a partition spec cannot combine with bucket.by: "
                "spec'd writes route through the partition writer, "
                "which does not stamp catalog bucket ids. For a "
                "date x hash layout, use a bucket TRANSFORM in the "
                "spec instead (['day(ts)', 'bucket(k, 16)']); to "
                "change layout family, rewrite the table (CTAS)"
            )
        if cols and m["files"]:
            self._check_spec_types(
                entries, dict(self.read().dtypes), cols
            )
        # bank every transform key this table has EVER declared
        # (cumulative across spec evolutions): pruning resolves path
        # keys from this record, so evolved-away layouts keep pruning
        # and a renamed column whose name LOOKS like a transform can
        # never be mis-resolved (resolve_path_key)
        tk = dict(m.get("transform_keys") or {})
        for e in entries:
            if e["fn"] != "identity":
                tk[e["name"]] = {
                    "fn": e["fn"], "col": e["col"], "n": e["n"]
                }
        # (on an empty table this is the first, file-less commit)
        return self._publish(
            m["files"], cur, m["stats"],
            partition_spec=list(cols), transform_keys=tk,
            op="SET PARTITION SPEC",
        )

    # ------------------------------------------------- DDL surface ----
    def create_table(
        self,
        schema_ddl: str,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
    ) -> int:
        """CREATE TABLE: bank a DECLARED schema (DDL string), an
        optional partition spec (identity or transform entries,
        type-checked against the declared schema — something
        ``set_partition_spec`` can't do on an empty table), and table
        properties as version 1 — a file-less metadata commit, the
        warehouse verb a user runs FIRST. Reads before the first
        insert return a typed empty frame; writes type-merge against
        the declared schema (an int batch into a declared bigint
        column upcasts at scan, a conflicting family raises);
        ``'schema.enforcement'='strict'`` in properties arms strict
        mode from birth."""
        from pyspark.sql.types import StructType

        if self.current_version() != 0:
            raise ValueError(
                f"table {self.root!r} already exists (version "
                f"{self.current_version()})"
            )
        fields = StructType.fromDDL(schema_ddl).fields
        if not fields:
            raise ValueError("CREATE TABLE needs at least one column")
        types = {f.name: f.dataType.simpleString() for f in fields}
        props = dict(properties or {})
        ev = props.get("schema.enforcement")
        if ev is not None and ev not in ("additive", "strict"):
            raise ValueError(
                f"schema.enforcement {ev!r}: use 'additive' or 'strict'"
            )
        tk = None
        if partition_by:
            entries = [parse_spec_entry(e) for e in partition_by]
            self._check_spec_types(entries, types, list(partition_by))
            tk = {
                e["name"]: {"fn": e["fn"], "col": e["col"], "n": e["n"]}
                for e in entries
                if e["fn"] != "identity"
            }
        return self._publish(
            [], 0, {}, types=types, partition_spec=partition_by,
            transform_keys=tk, properties=props, evolution=ev,
            op="CREATE TABLE",
        )

    def add_column(self, name: str, dtype: str) -> int:
        """ALTER TABLE ADD COLUMN — metadata-only: the column joins the
        banked reader schema (old files surface it as typed NULLs at
        scan, exactly additive evolution's read posture) and registers
        in the field-id map when one exists, so a later rename tracks
        it. Rejects existing names and (via the field-id map's
        tombstone rule) the resurrection of dropped ones."""
        from pyspark.sql.types import StructType

        StructType.fromDDL(f"`{name}` {dtype}")  # validates the type
        cur = self.current_version()
        if cur == 0:
            raise ValueError("no table at this root (create it first)")
        m = load_manifest(self.root, cur)
        types = dict(m.get("types") or {})
        if not types:
            if not m["files"]:
                raise ValueError(
                    "empty table with no declared schema — use "
                    "create_table to declare one"
                )
            types = dict(self.read().dtypes)
        live = set(types)
        for ent in m.get("schema") or []:
            if not ent.get("dropped"):
                live.add(ent["name"])
        if name in live:
            raise ValueError(f"column {name!r} already exists")
        sm = extend_schema_map(
            m.get("schema"), [*types, name]
        )  # raises on tombstoned-name reuse
        types[name] = dtype
        return self._publish(
            m["files"], cur, m["stats"],
            types=types, schema_map=sm, op="ADD COLUMN",
        )

    def set_tblproperties(self, props: dict) -> int:
        """SET TBLPROPERTIES: bank key/value table properties (carried
        through every commit, surfaced by DESCRIBE DETAIL). The
        ``schema.enforcement`` key is LIVE — it dispatches to the real
        enforcement mode every write path honors; other keys are
        operational metadata (e.g. ``retention.versions`` as the
        documented VACUUM default for operators)."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        old_props = m.get("properties") or {}
        if props.get("bucket.by") and self._partition_spec():
            # _write_files routes a spec'd write through the partition
            # writer, which does NOT stamp bucket ids — accepting both
            # would silently break the bucketed-readback contract on
            # every subsequent append (files failing the name check)
            raise ValueError(
                "bucket.by cannot combine with a partition spec: "
                "spec'd writes route through the partition writer, "
                "which does not stamp catalog bucket ids. For a "
                "date x hash layout, put the hash INTO the spec — "
                "set_partition_spec(['day(ts)', 'bucket(k, 16)']) — "
                "which prunes on both dimensions through the "
                "connector; bucket.by exists for the catalog "
                "zero-Exchange join and stands alone"
            )
        if (
            "bucket.by" in props
            and m["files"]
            and props["bucket.by"] != old_props.get("bucket.by")
        ):
            # the bucket spec IS the join-time hash mapping: changing
            # it over files written under a different (or no) spec
            # would make the bucketed readback serve a WRONG murmur3
            # mapping — joins silently losing matches. cluster.by may
            # change freely (it shapes future layout only; pruning is
            # stat-based, never mapping-based).
            raise ValueError(
                "bucket.by cannot change on a table with existing "
                "files (the banked files were laid out under "
                f"{old_props.get('bucket.by')!r}); rewrite the table "
                "(CTAS) to re-bucket"
            )
        merged = {**old_props, **props}
        kw: dict = {"properties": merged, "op": "SET TBLPROPERTIES"}
        ev = props.get("schema.enforcement")
        if ev is not None:
            if ev not in ("additive", "strict"):
                raise ValueError(
                    f"schema.enforcement {ev!r}: use 'additive' or "
                    "'strict'"
                )
            kw["evolution"] = ev
        return self._publish(m["files"], cur, m["stats"], **kw)

    def drop_partitions(self, eq: dict) -> int:
        """METADATA-ONLY partition delete (Iceberg/Hive's ``ALTER TABLE
        DROP PARTITION``, Delta's partition-aligned DELETE fast path):
        ``eq`` maps PATH KEYS — the raw column name for identity
        entries, the derived key (``day_ts``, ``bucket_k_8``) for
        transforms — to partition-DOMAIN values; every file whose path
        banks exactly those values drops from the manifest in one
        commit with ZERO data IO (no reads, no rewrites, no deletion
        vectors — the dropped bytes reclaim at the next VACUUM, and
        the change feed reports the rows as deletes via the ordinary
        manifest diff). A visible file MISSING any requested segment
        (pre-spec layout, connector write without the key) fails the
        call: a metadata delete must be provably complete — silently
        keeping half a partition would under-delete. Values are
        matched through ``encode_partition_value``; predicates in the
        RAW domain (``ts = X``) belong to ``delete_where``."""
        cur = self.current_version()
        if cur == 0:
            raise ValueError("no table at this root")
        m = load_manifest(self.root, cur)
        want = {k: encode_partition_value(v) for k, v in eq.items()}
        keep, dropped = [], []
        for f in m["files"]:
            pv = partition_values_from_path(f)
            missing = [k for k in want if k not in pv]
            if missing:
                raise ValueError(
                    f"file {f!r} lacks partition segment(s) "
                    f"{missing} — a metadata-only delete cannot "
                    "prove completeness over it; use delete_where"
                )
            if all(pv[k] == v for k, v in want.items()):
                dropped.append(f)
            else:
                keep.append(f)
        if not dropped:
            return cur
        return self._publish(
            keep,
            cur,
            {f: s for f, s in m["stats"].items() if f in set(keep)},
            op="DROP PARTITIONS",
        )

    #: see module-level ``partition_values_from_path`` (shared with the
    #: pysnapshot connector's planning-time partition pruning)
    partition_values = staticmethod(
        lambda path: partition_values_from_path(path)
    )

    #: transforms that are MONOTONE non-decreasing in their source
    #: column — lo <= x <= hi implies T(lo) <= T(x) <= T(hi), so a
    #: range predicate on the raw column prunes partitions by
    #: comparing the path segment against the TRANSFORMED bounds
    #: (Iceberg's inclusive-projection rule). bucket() is a hash —
    #: equality-only, never ranges.
    _MONOTONE_TRANSFORMS = ("identity", "day", "month", "trunc")

    def partition_pruned_files(
        self,
        eq: dict,
        version: int | None = None,
        ranges: dict | None = None,
        any_of: dict | None = None,
    ) -> list[str]:
        """The visible files that CAN hold rows matching the
        ``{col: value}`` equality predicate — and, via ``ranges``
        (``{col: (lo, hi)}``, inclusive, either side ``None`` for
        open), range predicates pushed through MONOTONE transforms:
        ``ts BETWEEN a AND b`` on a day-partitioned table keeps
        exactly the day-span's partitions straight from the manifest
        walk, no zone maps required. ``any_of`` ({col: [v1, v2, ...]})
        is IN-list pruning: exact per-option equality through ANY
        transform (bucket included — monotonicity isn't needed), so a
        scattered ``day IN (...)`` keeps exactly the listed days. Decided purely from the partition
        tuples encoded in the file paths — an O(files) string walk
        with zero file opens, the manifest-level pruning that makes
        ``WHERE day = X`` touch one partition's files out of thousands.
        Conservative by construction: a file with no banked value for a
        column (pre-spec layout, connector write, spec evolution) is
        KEPT — pruning can only skip files that provably hold no match,
        never a file it merely knows nothing about; strict bounds are
        widened to inclusive at partition grain (callers re-apply the
        row-level predicate); bucket segments ignore ranges (a hash
        isn't monotone)."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        # Checks are PATH-DRIVEN, not spec-driven: each file's encoded
        # keys are reverse-mapped to their transform (``day_ts`` →
        # day(ts)) and the equality literal is pushed through the SAME
        # write-side expression — so pruning keeps working on layouts
        # from EVOLVED-AWAY specs (a day-partitioned era keeps pruning
        # by day after the spec moves to month), and the user keeps
        # predicating on the raw column — hidden partitioning's
        # contract. Per-(key, literal) transforms evaluate once and
        # cache across the file walk.
        known = set(self._reader_types(m) or ())
        if not known and m.get("schema"):
            known = {e["name"] for e in m["schema"]}
        expected_cache: dict[str, str | None] = {}

        def _expected(key: str, val):
            if key not in expected_cache:
                e = resolve_path_key(key, m, known)
                expected_cache[key] = encode_partition_value(
                    val
                    if e["fn"] == "identity"
                    else self._transformed_literal(e, val, m)
                )
            return expected_cache[key]

        # per-key transformed range bounds, evaluated once per walk:
        # key -> (lo_cmp, hi_cmp, numeric) where the bounds live in the
        # path-comparison domain (int for trunc / integral identity,
        # encoded string otherwise — day/month/date encodings are
        # fixed-width ISO, so lexicographic == chronological)
        range_cache: dict[str, tuple] = {}

        def _range_bounds(key: str):
            if key not in range_cache:
                e = resolve_path_key(key, m, known)
                bounds = (ranges or {}).get(e["col"])
                if (
                    bounds is None
                    or e["fn"] not in self._MONOTONE_TRANSFORMS
                ):
                    range_cache[key] = None
                else:
                    lo, hi = bounds
                    if e["fn"] != "identity":
                        lo = (
                            self._transformed_literal(e, lo, m)
                            if lo is not None else None
                        )
                        hi = (
                            self._transformed_literal(e, hi, m)
                            if hi is not None else None
                        )
                    numeric = isinstance(
                        lo if lo is not None else hi, int
                    ) and not isinstance(
                        lo if lo is not None else hi, bool
                    )
                    if not numeric:
                        lo = encode_partition_value(lo)
                        hi = encode_partition_value(hi)
                    range_cache[key] = (lo, hi, numeric)
            return range_cache[key]

        anyof_cache: dict[str, frozenset | None] = {}

        def _anyof_admits(key: str, enc: str) -> bool:
            if key not in anyof_cache:
                e = resolve_path_key(key, m, known)
                vals = (any_of or {}).get(e["col"])
                if vals is None:
                    anyof_cache[key] = None
                else:
                    anyof_cache[key] = frozenset(
                        encode_partition_value(
                            v
                            if e["fn"] == "identity"
                            else self._transformed_literal(e, v, m)
                        )
                        for v in vals
                    )
            opts = anyof_cache[key]
            return opts is None or enc in opts

        def _range_admits(key: str, enc: str) -> bool:
            rb = _range_bounds(key)
            if rb is None:
                return True
            lo, hi, numeric = rb
            v = enc
            if numeric:
                try:
                    v = int(enc)
                except ValueError:
                    return True  # undecidable segment: keep
            try:
                if lo is not None and v < lo:
                    return False
                if hi is not None and v > hi:
                    return False
            except TypeError:
                return True  # incomparable domains: keep
            return True

        keep = []
        for f in m["files"]:
            pv = partition_values_from_path(f)
            ok = True
            for k, enc in pv.items():
                e = resolve_path_key(k, m, known)
                if e["col"] in eq:
                    if enc != _expected(k, eq[e["col"]]):
                        ok = False
                        break
                if ranges and not _range_admits(k, enc):
                    ok = False
                    break
                if any_of and not _anyof_admits(k, enc):
                    ok = False
                    break
            if ok:
                keep.append(f)
        return keep

    def _transformed_literal(self, entry: dict, val, m: dict):
        """Push an equality literal through a partition transform by
        evaluating the EXACT write-side expression on a 1-row frame —
        build/probe parity by construction (Murmur3 hash semantics,
        date formatting, truncation rounding all come from the same
        engine code path). The literal is cast to the source column's
        reader dtype first: Murmur3 of an INT is not Murmur3 of a
        BIGINT, so an uncast Python int could silently mis-bucket.
        Cost: one local 1-row projection per pruning call — driver
        milliseconds, no data access."""
        dt = (self._reader_types(m) or {}).get(entry["col"])
        if dt is None and m["files"]:
            dts = dict(
                self.spark.read.parquet(m["files"][0]).dtypes
            )
            dt = dts.get(entry["col"])
        lit = F.lit(val)
        if dt:
            lit = lit.cast(dt)
        row = (
            self.spark.range(1)
            .select(spec_transform_expr(entry, lit, dt).alias("v"))
            .collect()
        )
        return row[0]["v"]

    def read_partition(
        self, eq: dict, ranges: dict | None = None
    ) -> DataFrame:
        """DV-masked, schema-mapped read of only the partitions matching
        the ``{col: value}`` equality predicate — and optionally the
        ``{col: (lo, hi)}`` inclusive range predicates, pushed through
        monotone transforms (files pruned via
        ``partition_pruned_files``); callers still apply the predicate
        as a filter — pruning is a superset guarantee, old-layout files
        ride along conservatively."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        files = self.partition_pruned_files(eq, cur, ranges=ranges)
        if not files:
            return self.read().limit(0)
        return self._scan(files, m)

    # ------------------------------------------------ type widening ----
    def _merged_types(self, base_m: dict, *dfs: DataFrame):
        """The banked reader-schema types extended with the written
        batches' dtypes — no-op (None) until ``widen_column`` activates
        the feature. A batch may carry a WIDER type (the caller widened
        then wrote) or a NEW column (additive evolution); a narrower
        batch keeps the banked width (old files upcast at scan). A
        cross-family conflict raises — the same incompatibility a
        mergeSchema read would have reported."""
        types = dict(base_m.get("types") or {})
        if not types:
            return _UNSET  # feature inactive: nothing to maintain
        for df in dfs:
            for name, dt in df.dtypes:
                if name.startswith("__"):
                    continue  # internal physical columns stay hidden
                cur = types.get(name)
                types[name] = widen_merge(cur, dt) if cur else dt
        return types

    def widen_column(self, col: str, new_type: str) -> int:
        """TYPE WIDENING (Delta's type widening): change a column's
        type UP within its family — tinyint/smallint/int -> bigint,
        float -> double — as a METADATA-ONLY commit. Zero files
        rewrite: the manifest banks the table's reader schema and
        every read switches from a footer mergeSchema union (which
        CRASHES on mixed-width files) to an explicit wider schema that
        upcasts old files at scan time. New writes may use either
        width; the banked type only ever grows. Cross-family changes
        are rejected (that is a semantic change, not a widening), and
        the first widen bootstraps the reader schema from the current
        snapshot (one footer union, once). ``col`` is the column's
        current (logical) name; a renamed field widens under its
        current and every prior physical name, so files of every era
        read at the new width."""
        if new_type not in _WIDEN_ORDER:
            raise ValueError(
                f"{new_type!r} is not a widenable target; one of "
                f"{sorted(_WIDEN_ORDER)}"
            )
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        types = dict(m.get("types") or {})
        if not types:
            # bootstrap the reader schema from the current snapshot
            types = {
                n: t
                for n, t in self.read(cur).dtypes
                if not n.startswith("__")
            }
        names = [col]
        if m.get("schema"):
            ent = next(
                (
                    e
                    for e in m["schema"]
                    if e["name"] == col and not e.get("dropped")
                ),
                None,
            )
            if ent is None:
                raise KeyError(f"no column named {col!r}")
            names += ent.get("prior", [])
        known = [n for n in names if n in types]
        if not known:
            raise KeyError(f"no column named {col!r}")
        bb = str(
            (m.get("properties") or {}).get("bucket.by") or ""
        ).partition(":")[0].strip()
        if col == bb:
            # the bucket mapping IS murmur3 over the column's physical
            # width; int and bigint hash differently, so widening the
            # bucket column would split the mapping across eras and
            # silently lose matches in every bucketed join
            raise ValueError(
                f"cannot widen {col!r}: it is the table's bucket.by "
                "layout column (murmur3 hashes the widths differently)"
            )
        for n in known:
            if widen_merge(types[n], new_type) != new_type:
                raise ValueError(
                    f"cannot widen {col!r} from {types[n]} to "
                    f"{new_type}: only up-moves within a family"
                )
        types.update(dict.fromkeys(names, new_type))
        return self._publish(
            m["files"], cur, m["stats"], types=types,
            op="WIDEN COLUMN",
        )

    # --------------------------------------------------- COPY INTO ----
    def copy_into(
        self,
        sources: list[str],
        fmt: str = "parquet",
        options: dict | None = None,
    ) -> dict:
        """COPY INTO (the Redshift COPY / Delta COPY INTO load shape):
        idempotent FILE-LEVEL ingestion — each source file loads
        exactly once per table lifetime no matter how many times the
        command re-runs, retries after a crash, or overlaps a prior
        batch's listing. The ledger of ingested source paths rides the
        manifest like the streaming txn map, so replay detection
        survives interleaved commits from other writers; a CONCURRENT
        copy of the same source fails the commit (never a silent
        double-load) and the retry skips it. Only NEW sources are read
        — a daily re-point at the same landing prefix costs O(new
        files). The load flows through the normal append path, so
        every writer-side contract applies: CHECK constraints,
        generated columns, the partition-spec layout, row-id ranges.
        At 100 TB this is the bookmark-free landing-zone ingest: the
        ledger is O(ingested files) metadata, the work O(delta)."""
        cur = self.current_version()
        done = (
            load_manifest(self.root, cur).get("copied", {})
            if cur > 0
            else {}
        )
        new_src = sorted(set(s for s in sources if s not in done))
        n_skipped = len(sources) - len(new_src)
        if not new_src:
            return {
                "version": cur,
                "n_ingested": 0,
                "n_skipped": n_skipped,
            }
        reader = self.spark.read.format(fmt)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        df = reader.load(new_src)
        v = self.commit_append(
            df,
            op="COPY INTO",
            _copied_update={s: None for s in new_src},
        )
        return {
            "version": v,
            "n_ingested": len(new_src),
            "n_skipped": n_skipped,
        }

    # ------------------------------------------------ row tracking ----
    def enable_row_tracking(self) -> int:
        """Delta's ROW TRACKING: every row gets a PERMANENT 64-bit id,
        stable across OPTIMIZE / materialize_deletes / MOR UPDATE and
        the update branch of MERGE (inserts draw fresh ids) — the
        primitive that lets incremental consumers (MVs, syncs)
        correlate a row across rewrites without a user-declared key.
        Enabling is a metadata commit that assigns every EXISTING file
        a ``[base_row_id, num_rows]`` range (one footer row-count read
        per file, once); afterwards every commit assigns ranges to its
        new files at the ``_publish`` choke point, so ALL write paths
        participate without knowing about ids. A fresh file's row ids
        are ``base + row_position`` (zero storage); a file REWRITTEN by
        a preserving operation carries its rows' original ids as a
        physical ``__row_id`` column (bytes only in churned files —
        Delta materializes preserved ids the same way). The column is
        hidden from every normal read; ``read_with_row_ids`` surfaces
        ids as ``_row_id``."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur) if cur > 0
            else {"files": [], "stats": {}}
        )
        return self._publish(
            m["files"], cur, m["stats"],
            row_tracking=True, op="ENABLE ROW TRACKING",
        )

    def read_with_row_ids(self, version: int | None = None) -> DataFrame:
        """The snapshot with each row's permanent ``_row_id`` attached
        (DV-masked, schema-mapped, same as ``read``). Rows from files
        the table hasn't yet assigned a range to (impossible through
        table commits; only a torn external write) surface NULL rather
        than a fabricated id."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        if not m.get("row_tracking"):
            raise ValueError(
                "row tracking is not enabled on this table "
                "(enable_row_tracking)"
            )
        if not m["files"]:
            return self.read(v).withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        return self._scan(m["files"], m, row_ids="_row_id")

    # --------------------------------------- generated columns ----
    def add_generated_column(self, name: str, expr_sql: str) -> int:
        """Register a GENERATED column (Delta's ``GENERATED ALWAYS
        AS``): ``name`` is derived from ``expr_sql`` on EVERY write —
        computed when the incoming batch omits it, validated
        (``<=>``-exact, on the same single observe pass as CHECK
        constraints) when it supplies it. Registration requires the
        current snapshot to already agree: either the column doesn't
        exist yet AND the table is empty (new-table shape), or every
        existing row satisfies ``name <=> expr`` — otherwise historical
        rows would violate the contract the moment it's registered."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        gens = dict(m.get("generated", {}))
        if name in gens:
            raise ValueError(
                f"generated column {name!r} already registered"
            )
        if m["files"]:
            snap = self.read()
            if name not in snap.columns:
                raise ValueError(
                    f"column {name!r} does not exist in the non-empty "
                    "snapshot; generated columns on existing tables "
                    "must already be materialized"
                )
            bad = snap.filter(
                ~F.col(name).eqNullSafe(F.expr(expr_sql))
            ).count()
            if bad:
                raise ValueError(
                    f"generated column {name!r} ({expr_sql}) disagrees "
                    f"with {bad} existing row(s)"
                )
        return self._publish(
            m["files"],
            cur,
            m["stats"],
            generated={**gens, name: expr_sql},
            op="ADD GENERATED COLUMN",
        )

    def drop_generated_column_expr(self, name: str) -> int:
        """Unregister the generation expression (the column itself
        stays an ordinary column — Delta behaves the same)."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        gens = dict(m.get("generated", {}))
        gens.pop(name, None)
        return self._publish(
            m["files"], cur, m["stats"], generated=gens,
            op="DROP GENERATED COLUMN",
        )

    # ----------------------------------- metadata-only aggregates ----
    def metadata_count(self, version: int | None = None) -> int:
        """``COUNT(*)`` answered from the LOG, never the data pages
        (Delta's metadata-only query optimization): per-file row counts
        come from the banked ``#nulls`` stats ``[null_count, num_rows]``
        pairs; a file with no banked stats costs ONE parquet footer read
        (O(KB), fanned out as a Spark job past
        ``DISTRIBUTED_STATS_THRESHOLD`` files so a 100k-file table never
        serializes footer reads through the driver). Deletion vectors
        subtract exactly: tombstone sidecars hold scalar (file, pos)
        rows — point-delete sized by design — deduped and filtered to
        still-visible files, so re-deletes and rewritten files never
        double-count. On a 100 TB table this is O(files) metadata,
        not a 100 TB scan."""
        import pyarrow.parquet as pq

        m = load_manifest(self.root, version or self.current_version())
        total = 0
        unbanked: list[str] = []
        for f in m["files"]:
            st = m["stats"].get(f) or {}
            nr = next(
                (
                    v[1]
                    for k, v in st.items()
                    if k.endswith(NULLS_SUFFIX) and v is not None
                ),
                None,
            )
            if nr is None:
                unbanked.append(f)
            else:
                total += nr
        if len(unbanked) >= self.DISTRIBUTED_STATS_THRESHOLD:
            sc = self.spark.sparkContext
            total += (
                sc.parallelize(unbanked, max(1, len(unbanked) // 16))
                .map(_footer_num_rows)
                .sum()
            )
        else:
            for f in unbanked:
                total += pq.ParquetFile(f).metadata.num_rows
        if m["dv"]:
            import pyarrow.dataset as pds

            visible = set(m["dv"])  # _publish filtered to visible files
            pairs: set[tuple] = set()
            for d in sorted({d for lst in m["dv"].values() for d in lst}):
                t = pds.dataset(d, format="parquet").to_table(
                    columns=["__dv_file", "__dv_pos"]
                )
                for fc, pc in zip(
                    t.column("__dv_file").to_pylist(),
                    t.column("__dv_pos").to_pylist(),
                ):
                    if fc in visible:
                        pairs.add((fc, pc))
            total -= len(pairs)
        return total

    def metadata_min_max(
        self, col: str, version: int | None = None
    ):
        """``MIN(col), MAX(col)`` from banked zone maps — or ``None``
        when the log cannot answer EXACTLY, in which case the caller
        falls back to a real scan. Refuses (a) tables with live deletion
        vectors (a tombstoned row may hold the extreme — sharpening
        would require per-DV re-stat, which is a scan) and (b) any file
        whose stats are absent for every physical alias of ``col``
        unless that file is provably all-null or physically lacks the
        column (pre-add-column era files read back NULL, which min/max
        ignore — SQL semantics). Alias groups follow field-id renames:
        a value's stats live under whichever era's physical name wrote
        the file, and post-compaction files carry BOTH names.
        ``(None, None)`` = answerable and NULL (no non-null values) —
        distinct from unanswerable ``None``."""
        m = load_manifest(self.root, version or self.current_version())
        if m["dv"]:
            return None
        return self._banked_min_max(m, col)

    def _banked_min_max(self, m: dict, col: str):
        """The zone-map walk behind ``metadata_min_max``, without its
        deletion-vector refusal — callers that can tolerate a STALE
        extreme (a tombstoned row widening the range) may use it under
        live DVs; exact-answer callers must gate on ``m["dv"]`` first.
        Footer-stat fallback per file is metadata-only (O(KB) reads)."""
        import pyarrow.parquet as pq

        names = [col]
        if m["schema"]:
            ent = next(
                (
                    e
                    for e in m["schema"]
                    if e["name"] == col and not e.get("dropped")
                ),
                None,
            )
            if ent is None:
                raise ValueError(f"unknown column {col!r}")
            names = [ent["name"], *ent.get("prior", [])]
        mins: list = []
        maxs: list = []
        for f in m["files"]:
            st = dict(m["stats"].get(f) or {})
            if any(
                n not in st and n + NULLS_SUFFIX not in st for n in names
            ):
                st.update(_footer_stats_one(f, names))
            present: set | None = None  # physical columns, lazily read
            for n in names:
                mm = st.get(n)
                if mm is not None:
                    mins.append(mm[0])
                    maxs.append(mm[1])
                    continue
                nn = st.get(n + NULLS_SUFFIX)
                if nn is not None and nn[0] == nn[1]:
                    continue  # provably all-null in this file
                if present is None:
                    md = pq.ParquetFile(f).metadata
                    present = {
                        md.schema.column(i).path
                        for i in range(md.num_columns)
                    }
                if n in present:
                    return None  # present, not all-null, no stats
        if not mins:
            return (None, None)
        return (min(mins), max(maxs))

    # ------------------------------------------- bloom file index ----
    def _bloom_aliases(self, m: dict, col: str) -> list[str]:
        """``col``'s physical alias group ([current, *prior]) for bloom
        build/probe — pre-rename files hold the values under an old
        physical name and the bloom must cover them."""
        for ent in m.get("schema") or []:
            if ent["name"] == col and not ent.get("dropped"):
                return [col, *ent.get("prior", [])]
        return [col]

    def _extend_blooms(
        self, m: dict, candidate_files: list[str]
    ) -> dict:
        """Blooms for every registered bloom column over every candidate
        file that lacks one. Fans out as a Spark job past the
        distributed threshold — each task reads ONE column of ONE file
        and writes a KB-scale sidecar; only (file, sidecar) pairs return
        to the driver. O(new files) per commit, exactly like footer
        stats."""
        bloom_cols: dict = m.get("bloom_cols") or {}
        blooms = {f: dict(v) for f, v in (m.get("blooms") or {}).items()}
        if not bloom_cols:
            return blooms
        index_dir = os.path.join(self.root, "_indexes")
        os.makedirs(index_dir, exist_ok=True)
        work: list[tuple] = []
        for col, fpp in bloom_cols.items():
            names = self._bloom_aliases(m, col)
            for f in candidate_files:
                if col not in blooms.get(f, {}):
                    work.append((f, names, float(fpp), col))
        if not work:
            return blooms
        if len(work) >= self.DISTRIBUTED_STATS_THRESHOLD:
            sc = self.spark.sparkContext
            built = (
                sc.parallelize(work, max(1, len(work) // 16))
                .map(
                    lambda w: (
                        w[3],
                        _bloom_build_one(w[0], w[1], w[2], index_dir),
                    )
                )
                .collect()
            )
        else:
            built = [
                (col, _bloom_build_one(f, names, fpp, index_dir))
                for f, names, fpp, col in work
            ]
        for col, (f, sidecar) in built:
            blooms.setdefault(f, {})[col] = sidecar
        return blooms

    def add_bloom_index(self, col: str, fpp: float = 0.01) -> int:
        """Register a per-file Bloom filter index on ``col`` (Delta's
        bloom filter index): builds sidecars for every VISIBLE file now
        (distributed, one column read per file) and every future
        append/rewrite extends the index to its new files
        automatically. The index serves point lookups on
        high-cardinality columns whose values interleave across files —
        where zone maps prune nothing because every file's [min, max]
        spans the domain. Files without a bloom (e.g. merge-on-read
        post-images, until the next OPTIMIZE) are conservatively read:
        a bloom may waste a read, never lose a row."""
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        bloom_cols = dict(m.get("bloom_cols") or {})
        if col in bloom_cols:
            raise ValueError(f"bloom index on {col!r} already exists")
        bloom_cols[col] = fpp
        m2 = {**m, "bloom_cols": bloom_cols}
        blooms = self._extend_blooms(m2, m["files"])
        return self._publish(
            m["files"],
            cur,
            m["stats"],
            bloom_cols=bloom_cols,
            blooms=blooms,
            op="ADD BLOOM INDEX",
        )

    # --------------------------------- ANALYZE / NDV column stats ----
    #: Datasketches HLL precision for ANALYZE sketches (2^12 registers,
    #: ~1.6% relative standard error — the Spark default).
    NDV_LGK = 12

    def analyze_histograms(
        self, cols: list[str], n_bins: int = 32
    ) -> int:
        """ANALYZE ... WITH HISTOGRAM: bank EXACT equi-height bin
        boundaries per column (one ``percentile`` aggregate over the
        table — a single scan at ANALYZE time, like Redshift/Spark
        CBO's column histograms), so range-predicate selectivity
        becomes a metadata lookup (``estimate_rows``). The histogram is
        advisory: it carries forward through every commit with a banked
        ``as_of`` version + row count, so consumers can judge staleness
        against the head (appends skew it until the next ANALYZE;
        rewrites don't change the distribution at all)."""
        if n_bins < 1:
            raise ValueError("n_bins must be >= 1")
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        if not m["files"]:
            raise ValueError("ANALYZE WITH HISTOGRAM on an empty table")
        probs = ",".join(
            str(i / n_bins) for i in range(n_bins + 1)
        )
        df = self.read(cur)
        row = df.agg(
            *[
                F.expr(f"percentile({c}, array({probs}))").alias(c)
                for c in cols
            ]
        ).collect()[0]
        hist = dict(m.get("histograms") or {})
        n_rows = self.metadata_count(cur)
        for c in cols:
            if row[c] is None or any(v is None for v in row[c]):
                # percentile ignores NULLs, so partial NULLs are fine;
                # an all-NULL column yields NULL bounds — name it
                # instead of surfacing float(None)'s TypeError
                raise ValueError(
                    f"cannot build a histogram for column {c!r}: "
                    "all values are NULL"
                )
            hist[c] = {
                "bounds": [float(v) for v in row[c]],
                "as_of": cur,
                "rows": int(n_rows),
            }
        return self._publish(
            m["files"], cur, m["stats"], histograms=hist, op="ANALYZE"
        )

    def estimate_rows(self, col: str, lo=None, hi=None) -> float:
        """Histogram selectivity estimate for ``lo <= col <= hi``
        (either side None = unbounded) — each equi-height bin holds
        rows/n_bins rows; partial overlaps interpolate linearly inside
        the bin; a zero-width (point-mass) bin counts fully when its
        point is in range. Pure metadata — the planning-time row
        estimate a join-order/broadcast decision wants, no scan."""
        cur = self.current_version()
        h = (load_manifest(self.root, cur).get("histograms") or {}).get(
            col
        )
        if h is None:
            raise ValueError(
                f"no histogram for {col!r}: run "
                "analyze_histograms([...]) first"
            )
        b = h["bounds"]
        n = len(b) - 1
        per = h["rows"] / n
        total = 0.0
        for i in range(n):
            left, right = b[i], b[i + 1]
            if hi is not None and left > hi:
                break
            if lo is not None and right < lo:
                continue
            if right <= left:
                # point-mass bin: in range iff the point is
                if (lo is None or lo <= left) and (
                    hi is None or left <= hi
                ):
                    total += per
                continue
            lo_c = left if lo is None else max(left, lo)
            hi_c = right if hi is None else min(right, hi)
            total += per * max(0.0, (hi_c - lo_c) / (right - left))
        return total

    def analyze_columns(self, cols: list[str]) -> int:
        """ANALYZE (AWS Glue column statistics / Redshift ANALYZE
        parity): bank a MERGEABLE Datasketches HLL sketch of each
        column PER FILE, so table-level NDV — the statistic join
        planning actually needs — is a union of per-file sketches, not
        a re-scan. Incremental by construction: a run computes sketches
        only for (file, column) pairs no prior run covered (new files
        since the last ANALYZE cost one column read each; covered files
        cost nothing — immutable files, immutable sketches). Sketches
        live in ONE parquet sidecar per run under ``_indexes/ndv_*``
        ((file, col, sketch) rows, KBs per file) written by the same
        Spark job that aggregates them — sketch bytes never funnel
        through the driver. Tombstoned (deletion-vector) rows are
        INCLUDED: statistics are advisory, and an overcount is the safe
        direction for join-size estimates. Renames are handled
        logically (the sketch aggregates the alias-coalesced column).
        """
        import uuid as _uuid

        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}, "dv": {}, "schema": None}
        )
        ndv = dict(m.get("ndv") or {"cols": [], "sidecars": []})
        ndv["cols"] = sorted(set(ndv.get("cols", [])) | set(cols))
        covered = self._ndv_covered(ndv)
        work_cols = {
            c: sorted(
                set(m["files"]) - {f for f, cc in covered if cc == c}
            )
            for c in cols
        }
        todo = {c: fs for c, fs in work_cols.items() if fs}
        if todo and m["files"]:
            files = sorted({f for fs in todo.values() for f in fs})
            mapped = self._scan(files, m, mask=False, provenance=True)
            per_col = []
            for c, fs in todo.items():
                # file membership via a BROADCAST semi-join, never an
                # isin() plan literal — fs is O(files) at fleet scale
                want = self.spark.createDataFrame(
                    [(f,) for f in fs], "__dv_file string"
                )
                per_col.append(
                    mapped.join(F.broadcast(want), "__dv_file", "left_semi")
                    .groupBy(F.col("__dv_file").alias("file"))
                    .agg(
                        F.hll_sketch_agg(F.col(c), self.NDV_LGK)
                        .alias("sketch")
                    )
                    .select("file", F.lit(c).alias("col"), "sketch")
                )
            out = per_col[0]
            for p in per_col[1:]:
                out = out.unionAll(p)
            sidecar = os.path.join(
                self.root, "_indexes", f"ndv_{_uuid.uuid4().hex}"
            )
            out.write.mode("errorifexists").parquet(sidecar)
            ndv["sidecars"] = list(ndv.get("sidecars", [])) + [sidecar]
        return self._publish(
            m["files"], cur, m["stats"], ndv=ndv, op="ANALYZE"
        )

    def _ndv_covered(self, ndv: dict) -> set:
        """(file, col) pairs any retained sidecar has a sketch for —
        one metadata-scale read over the sidecars."""
        sidecars = [
            s for s in ndv.get("sidecars", []) if os.path.isdir(s)
        ]
        if not sidecars:
            return set()
        return {
            (r["file"], r["col"])
            for r in self.spark.read.parquet(*sidecars)
            .select("file", "col")
            .distinct()
            .collect()
        }

    def table_ndv(
        self, col: str, version: int | None = None
    ) -> int | None:
        """Table-level approximate distinct count of ``col`` from the
        banked per-file sketches — a union over O(files) KB-scale
        sketch rows, ZERO data reads at any table size. Returns None
        (honest refusal — run ``analyze_columns``) unless EVERY visible
        file is covered: an estimate missing files would silently
        UNDERCOUNT, and undercounting NDV inflates join-size estimates'
        denominator — the dangerous direction. Duplicate sketches for a
        file merge idempotently (HLL union), so no dedup pass is
        needed."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        ndv = m.get("ndv") or {}
        sidecars = [
            s for s in ndv.get("sidecars", []) if os.path.isdir(s)
        ]
        if not m["files"]:
            return 0
        if col not in ndv.get("cols", []) or not sidecars:
            return None
        visible = self.spark.createDataFrame(
            [(f,) for f in m["files"]], "file string"
        )
        rows = (
            self.spark.read.parquet(*sidecars)
            .filter(F.col("col") == col)
            .join(F.broadcast(visible), "file", "left_semi")
        )
        got = rows.agg(
            F.countDistinct("file").alias("n"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .alias("est"),
        ).collect()[0]
        if got["n"] != len(m["files"]):
            return None  # uncovered files: refuse, never undercount
        return int(got["est"])

    def drop_bloom_index(self, col: str) -> int:
        """Unregister ``col``'s bloom index; sidecar files are left for
        VACUUM (they are invisible once unreferenced)."""
        cur = self.current_version()
        m = load_manifest(self.root, cur)
        bloom_cols = dict(m.get("bloom_cols") or {})
        bloom_cols.pop(col, None)
        blooms = {
            f: {c: s for c, s in v.items() if c != col}
            for f, v in (m.get("blooms") or {}).items()
        }
        blooms = {f: v for f, v in blooms.items() if v}
        return self._publish(
            m["files"],
            cur,
            m["stats"],
            bloom_cols=bloom_cols,
            blooms=blooms,
            op="DROP BLOOM INDEX",
        )

    def point_lookup_files(
        self, col: str, value, version: int | None = None
    ) -> tuple[list[str], int, int]:
        """File planning for ``col == value``: partition-path segments
        and zone maps first (both free, from the log/paths), then bloom
        probes over the surviving candidates (one KB-scale sidecar read
        each — only candidates pay it).
        Returns (files to read, zone-map survivors, total files)."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        zone_keep, total = self.pruned_files(col, value, value, v)
        # partition-spec pruning composes: a spec'd file whose path
        # segment banks a different value provably holds no match
        enc = encode_partition_value(value)
        if enc is not None:
            zone_keep = [
                f
                for f in zone_keep
                if partition_values_from_path(f).get(col, enc) == enc
            ]
        if col not in (m.get("bloom_cols") or {}):
            return zone_keep, len(zone_keep), total
        blooms = m.get("blooms") or {}
        keep = [
            f
            for f in zone_keep
            if (sc := (blooms.get(f) or {}).get(col)) is None
            or _bloom_might_contain(sc, value)
        ]
        return keep, len(zone_keep), total

    def read_where_eq(
        self, col: str, value, version: int | None = None
    ) -> DataFrame:
        """Point lookup: zone + bloom file pruning, deletion vectors and
        the field-id map applied, and the residual equality filter kept
        on top (blooms prune files, not rows — and false positives must
        not surface)."""
        files, _, _ = self.point_lookup_files(col, value, version)
        if not files:
            return self.read(version).limit(0).filter(
                F.col(col) == F.lit(value)
            )
        v = self.current_version() if version is None else version
        return self._scan(files, load_manifest(self.root, v)).filter(
            F.col(col) == F.lit(value)
        )

    def _constraints(self) -> dict[str, str]:
        """The head manifest's registered CHECK constraints."""
        cur = self.current_version()
        if cur == 0:
            return {}
        return load_manifest(self.root, cur).get("constraints", {})

    def _generated(self) -> dict[str, str]:
        """The head manifest's generated-column expressions."""
        cur = self.current_version()
        if cur == 0:
            return {}
        return load_manifest(self.root, cur).get("generated", {})

    def _defaults(self) -> dict[str, str]:
        """The head manifest's column DEFAULT expressions."""
        cur = self.current_version()
        if cur == 0:
            return {}
        return load_manifest(self.root, cur).get("defaults", {})

    def _identity(self) -> dict[str, dict]:
        """The head manifest's identity-column specs
        (col -> {start, step, high})."""
        cur = self.current_version()
        if cur == 0:
            return {}
        return load_manifest(self.root, cur).get("identity", {})

    def set_schema_enforcement(self, mode: str) -> int:
        """Schema enforcement mode (Delta's default-on enforcement vs
        ``mergeSchema``): ``"additive"`` (this format's default) lets a
        write INTRODUCE columns — additive evolution, the S5 contract —
        while ``"strict"`` rejects any write carrying a column the
        current snapshot does not have (typo'd column names and
        upstream schema drift fail loudly instead of silently widening
        the table). Missing columns stay legal in both modes (they read
        NULL / fill from DEFAULTs). The mode is a manifest-carried
        table property like constraints: every write path — including
        the connector — honors it, and CLONE / branch fork /
        fast-forward carry it."""
        if mode not in ("additive", "strict"):
            raise ValueError(
                f"schema enforcement mode {mode!r}: use 'additive' or "
                "'strict'"
            )
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        return self._publish(
            m["files"], cur, m["stats"], evolution=mode,
            op="SET SCHEMA ENFORCEMENT",
        )

    def _enforce_schema(self, m: dict, df: DataFrame) -> None:
        """Under strict enforcement, reject columns the snapshot does
        not already have. The logical column set comes from the
        FIELD-ID MAP when one exists (complete by construction — the
        first rename registers every then-known column and additive
        commits extend it), so post-rename tables pay ZERO footer
        reads; tables that never renamed fall back to one mergeSchema
        footer union (distributed, metadata-only)."""
        if m.get("evolution") != "strict":
            return
        smap = m.get("schema")
        fields = self._reader_types(m)
        if not m.get("files") and not smap and not fields:
            # empty AND schema-less: nothing to enforce against (a
            # CREATEd table banks its declared schema, so strict mode
            # bites from the very first write there)
            return
        if smap:
            known = {
                e["name"] for e in smap if not e.get("dropped")
            }
        elif fields:
            # widened tables bank an explicit reader schema — use it
            # (a mergeSchema footer union would CRASH on mixed-width
            # files, the exact failure the banked schema exists for)
            known = set(fields)
        else:
            known = set(self._scan(m["files"], m, mask=False).columns)
        extra_cols = [c for c in df.columns if c not in known]
        if extra_cols:
            raise ValueError(
                f"schema enforcement is strict: column(s) {extra_cols} "
                "do not exist in the table — set_schema_enforcement("
                "'additive') to allow evolution"
            )

    def add_column_default(self, name: str, expr_sql: str) -> int:
        """Register a column DEFAULT (SQL's ``DEFAULT`` / Delta's
        default values): future writes that OMIT the column get
        ``expr_sql`` computed on the write pass; writes that supply it
        keep their values (unlike GENERATED columns, no agreement check
        — that is the SQL contract). Existing rows are untouched and
        read NULL through schema merge, exactly Delta's ADD COLUMN
        DEFAULT semantics. The expression is validated by evaluation at
        registration, and the registration is a metadata-only commit
        carried through every subsequent write, CLONE, branch fork and
        fast-forward like the other writer contracts."""
        gens = self._generated()
        if name in gens:
            raise ValueError(
                f"{name!r} is a generated column — it computes, it "
                "does not default"
            )
        if name in self._identity():
            raise ValueError(f"{name!r} is an identity column")
        # must evaluate standalone (defaults fill ABSENT columns, so
        # they cannot reference other columns)
        self.spark.range(1).select(F.expr(expr_sql)).collect()
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        dfl = dict(m.get("defaults", {}))
        dfl[name] = expr_sql
        return self._publish(
            m["files"], cur, m["stats"], defaults=dfl,
            op="ADD DEFAULT",
        )

    def drop_column_default(self, name: str) -> int:
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        dfl = dict(m.get("defaults", {}))
        dfl.pop(name, None)
        return self._publish(
            m["files"], cur, m["stats"], defaults=dfl,
            op="DROP DEFAULT",
        )

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> int:
        """GENERATED ALWAYS AS IDENTITY (Delta identity columns):
        appends must OMIT the column and the engine assigns values of
        the form ``start + k*step`` — globally unique across commits
        and racing writers, gaps allowed (the Delta contract; gap-free
        sequences need a global coordination point no shared-nothing
        writer can afford). Assignment is
        ``high + step*(1 + monotonically_increasing_id())`` — a pure
        map-side expression, no shuffle, no coordination inside the
        batch — and the new HIGH-WATER MARK is read back from the
        written files' parquet footer max (O(new files) metadata, the
        same cost class as the stats merge riding every commit).
        Rewrite paths (OPTIMIZE, MOR UPDATE, MERGE) carry existing
        values untouched: an identity is assigned once, at insert.
        Registering on a non-empty table requires the column to
        already exist (seeding the watermark from its current max);
        uniqueness of pre-existing values is the caller's contract,
        as in Delta's SYNC IDENTITY."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        if step < 0:
            raise ValueError(
                "descending identity not supported: the high-water "
                "mark advances via footer MAX"
            )
        if name in self._generated() or name in self._defaults():
            raise ValueError(
                f"{name!r} already has a generation/default expression"
            )
        cur = self.current_version()
        m = (
            load_manifest(self.root, cur)
            if cur > 0
            else {"files": [], "stats": {}}
        )
        high = start - step
        if m["files"]:
            snap = self.read()
            if name not in snap.columns:
                raise ValueError(
                    f"column {name!r} does not exist in the non-empty "
                    "snapshot; identity on existing tables seeds from "
                    "the current values (add the column first)"
                )
            # seed the watermark from the BANKED zone maps when they
            # cover every visible file — zero data-page reads, O(files)
            # metadata. Live deletion vectors are fine HERE (unlike
            # metadata_min_max's exact contract): a tombstoned row can
            # only make a file-level max OVERSTATE the visible max, and
            # an overstated watermark is conservative-safe for identity
            # (gaps are allowed; ids merely need to stay above every
            # value ever committed). The unsafe direction — understating
            # and minting duplicate ids — is impossible from file stats.
            mm = self._banked_min_max(m, name)
            try:
                banked = (
                    int(mm[1]) if mm is not None and mm[1] is not None
                    else (start - step if mm is not None else None)
                )
            except (TypeError, ValueError):
                banked = None  # non-numeric banked stat: scan decides
            if banked is not None:
                high = max(high, banked)
            else:
                # a file carries the column without usable stats: scan
                row = snap.agg(F.max(name).cast("long")).collect()[0]
                if row[0] is not None:
                    high = max(high, int(row[0]))
        ident = dict(m.get("identity", {}))
        if name in ident:
            raise ValueError(f"identity column {name!r} already exists")
        ident[name] = {"start": start, "step": step, "high": high}
        return self._publish(
            m["files"], cur, m["stats"], identity=ident,
            op="ADD IDENTITY",
        )

    @staticmethod
    def _violation_counters(cons: dict[str, str]) -> list:
        """One violation-count aggregate per constraint (NULL results
        count as violations, the conservative reading) — attached to the
        write pass via ``df.observe`` so enforcement costs zero extra
        scans."""
        return [
            F.sum(
                F.when(
                    F.expr(sql).eqNullSafe(F.lit(True)), 0
                ).otherwise(1)
            ).alias(name)
            for name, sql in cons.items()
        ]

    def restore(self, version: int) -> int:
        """RESTORE the table to a historical snapshot AS A NEW COMMIT
        (Delta's RESTORE): the head advances to a manifest carrying
        version N's exact file list, deletion vectors, and schema map —
        a pure metadata publish (zero data movement, O(1) regardless of
        table size), and because it's a commit, the restore itself is
        auditable and revertible. Requires N inside the retention window
        (a vacuumed version's files may be gone). The restored commit
        carries version N's schema map VERBATIM — including the
        ``schema=None`` of a version that predates the first rename
        (the _UNSET sentinel exists so None publishes explicitly instead
        of inheriting the current head's map, which would keep reading
        the restored files under post-restore names). Constraints are
        table properties, not data: the CURRENT head's constraint set is
        kept, as Delta RESTORE does. The PARTITION SPEC restores with
        the target version (it describes the restored file LAYOUT;
        inheriting the head's spec could name a column the restored
        schema doesn't have, bricking every subsequent write)."""
        cur = self.current_version()
        m = load_manifest(self.root, version)
        return self._publish(
            m["files"],
            cur,
            m["stats"],
            dv=dict(m["dv"]) or {},
            schema_map=m["schema"],
            partition_spec=m.get("partition_spec") or None,
            # a restored file keeps the ids it had at version N (row
            # tracking stays governed by the CURRENT head, like
            # constraints; only the RANGES are seeded)
            row_ids_seed=m.get("row_ids") or None,
            op="RESTORE",
        )

    def clone_shallow(self, target_root: str) -> "SnapshotTable":
        """SHALLOW CLONE (Delta's CLONE): a NEW table whose first
        manifest references the source's current data files — zero
        copy, O(metadata) regardless of table size. The clone's future
        commits diverge freely (its log is its own); the source is
        never affected. Caveat shared with Delta: the clone borrows
        the source's files, so a source VACUUM that collects files the
        clone still references breaks the clone — production setups
        either retain accordingly or deep-clone hot tables.

        The clone's first manifest CARRIES the source's (Delta CLONE
        copies table properties), through the same ``carry_forward``
        rule as every commit: the writer contract, layout and table
        properties, statistics, widened reader types, row-id ranges,
        deletion vectors and bloom sidecars (borrowed like the files),
        and the streaming txn map and COPY INTO ledger — they describe
        rows the clone holds, so a replay into the clone is a no-op. A
        source with no files still clones its declared schema. The ANN
        index is not carried: a refresh appends code generations to the
        index's own directory, which the source owns."""
        m = load_manifest(self.root, self.current_version())
        clone = SnapshotTable(self.spark, target_root, clock=self.clock)
        clone._publish(
            m["files"], 0, m["stats"], base=m, ann=None, op="CLONE"
        )
        return clone

    def clone_deep(self, target_root: str) -> "SnapshotTable":
        """DEEP CLONE (Delta's CLONE ... DEEP): a new table whose first
        manifest references COPIES of the source's current files — the
        byte copies fan out as a Spark job over the file list, so a
        100k-file table clones at cluster parallelism with only the
        (src, dst) path pairs crossing the driver. Unlike
        ``clone_shallow``, the clone owns its bytes: a source VACUUM
        can never break it — the backup/migration shape. Deletion
        vector sidecars copy too (tombstones must hold); the metadata
        families carry exactly as shallow clone carries them, except the
        sidecars the source owns: per-file bloom sidecars name the
        source paths, so the copies read conservatively until
        re-indexed (never a wrong answer)."""
        m = load_manifest(self.root, self.current_version())
        clone = SnapshotTable(self.spark, target_root, clock=self.clock)
        data_dir = os.path.join(target_root, "data", uuid.uuid4().hex)
        os.makedirs(data_dir, exist_ok=True)

        def _rel(src: str) -> str:
            # preserve the path AFTER the source's data/ root: commit
            # dirs are uuid-unique (no collisions) and partition-spec'd
            # layouts encode their __part_<col>=<value> segments in the
            # path — flattening would break partition-path pruning on
            # the clone
            i = src.find("/data/")
            return src[i + 6:] if i >= 0 else os.path.basename(src)

        pairs = [
            (src, os.path.join(data_dir, _rel(src)))
            for src in m["files"]
        ]
        old_to_new = dict(pairs)
        # tombstone sidecars rewrite rather than copy: their rows name
        # the tombstoned file by PATH, which must point at the clone's
        # copies. A sidecar dir shared by several files (one DELETE
        # touching many) rewrites once and stays shared in the clone.
        src_dirs = sorted(
            {d for lst in (m.get("dv") or {}).values() for d in lst}
        )
        dir_map = {
            d: os.path.join(target_root, "deletes", uuid.uuid4().hex)
            for d in src_dirs
        }
        dv_map = {
            old_to_new[f]: [dir_map[d] for d in lst]
            for f, lst in (m.get("dv") or {}).items()
        }

        def _copy(pair):
            import shutil as _sh

            src, dst = pair
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _sh.copyfile(src, dst)
            return dst

        if len(pairs) >= self.DISTRIBUTED_STATS_THRESHOLD:
            sc = self.spark.sparkContext
            sc.parallelize(
                pairs, max(1, min(len(pairs) // 16, 256))
            ).foreach(_copy)
        else:
            for p in pairs:
                _copy(p)
        for d, nd in dir_map.items():
            import pyarrow as pa
            import pyarrow.parquet as pq_

            os.makedirs(nd, exist_ok=True)
            for fn in os.listdir(d):
                if not fn.endswith(".parquet"):
                    continue  # _SUCCESS markers, .crc checksums
                tbl = pq_.read_table(os.path.join(d, fn))
                col = tbl.column("__dv_file").to_pylist()
                remapped = pa.array(
                    [old_to_new.get(v, v) for v in col],
                    type=pa.string(),
                )
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("__dv_file"),
                    "__dv_file",
                    remapped,
                )
                pq_.write_table(tbl, os.path.join(nd, fn))
        stats = {
            old_to_new[f]: st for f, st in m["stats"].items()
            if f in old_to_new
        }
        clone._publish(
            [dst for _src, dst in pairs],
            0,
            stats,
            base=m,
            dv=dv_map,
            blooms=None,
            ann=None,
            # copied files keep the source rows' permanent ids: re-key
            # the banked ranges onto the copy paths
            row_ids_seed={
                old_to_new[f]: v
                for f, v in (m.get("row_ids") or {}).items()
                if f in old_to_new
            }
            or None,
            op="CLONE DEEP",
        )
        return clone

    # --------------------------------------------- branches / tags / WAP
    # Iceberg-style refs on the snapshot log. A TAG is an immutable
    # named pointer to a version (a retention root: VACUUM never
    # collects a tagged snapshot). A BRANCH is an independent line of
    # commits forked from a main version: its manifest log lives under
    # ``{root}/_branches/{name}`` and its NEW data files land there too,
    # while the manifests reference the fork point's files by their
    # absolute paths — zero copy at fork, O(metadata) like CLONE. The
    # branch is a full SnapshotTable (every operator — DV deletes, MOR
    # merges, constraints, OPTIMIZE — works on it unchanged), which is
    # what makes WRITE-AUDIT-PUBLISH real: stage commits on a branch,
    # run the audit there, then FAST-FORWARD main to the branch head as
    # one atomic commit. Fork/fast-forward copy the manifest VERBATIM
    # (every key except version/stats bookkeeping), so a new metadata
    # family can never be silently dropped by the ref machinery — the
    # r5 connector bug class is excluded by construction.
    _REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")

    def _branch_root(self, name: str) -> str:
        if not self._REF_NAME.match(name):
            raise ValueError(f"invalid ref name {name!r}")
        return os.path.join(self.root, "_branches", name)

    @staticmethod
    def _manifest_extra(m: dict) -> dict:
        """Everything a manifest banks beyond the positional publish
        fields — carried verbatim through fork and fast-forward."""
        return {k: v for k, v in m.items() if k not in _UNCARRIED}

    def create_branch(
        self, name: str, version: int | None = None
    ) -> "SnapshotTable":
        """Fork a branch at ``version`` (default: head). The branch's
        v1 is a verbatim copy of the fork manifest (files by absolute
        path, dv/schema/constraints/row-ids/... all carried), so the
        branch starts as an exact view of the fork point and diverges
        only as it commits. Pure metadata — no data moves."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        broot = self._branch_root(name)
        if os.path.isdir(os.path.join(broot, "_manifests")):
            raise ValueError(f"branch {name!r} already exists")
        bt = SnapshotTable(self.spark, broot, clock=self.clock)
        extra = self._manifest_extra(m)
        extra["op"] = "BRANCH"
        publish_version(
            broot,
            m["files"],
            0,
            m["stats"],
            extra=extra,
            ts=self.clock() if self.clock else None,
        )
        with open(os.path.join(broot, "_fork.json"), "w") as f:
            json.dump({"version": v}, f)
        return bt

    def branch(self, name: str) -> "SnapshotTable":
        broot = self._branch_root(name)
        if not os.path.isdir(os.path.join(broot, "_manifests")):
            raise ValueError(f"no such branch {name!r}")
        return SnapshotTable(self.spark, broot, clock=self.clock)

    def branches(self) -> dict[str, int]:
        """branch name -> fork version (main-log coordinates)."""
        d = os.path.join(self.root, "_branches")
        out = {}
        if os.path.isdir(d):
            for n in sorted(os.listdir(d)):
                fork = os.path.join(d, n, "_fork.json")
                if os.path.isfile(fork):
                    with open(fork) as f:
                        out[n] = int(json.load(f)["version"])
        return out

    def fast_forward(self, name: str) -> int:
        """Publish the branch head onto main as ONE commit — the
        PUBLISH half of write-audit-publish. Requires main's head to
        still BE the fork version (Iceberg's fast-forward ancestry
        rule): if main advanced, the branch no longer descends from
        head and the caller must re-fork and replay. The branch head
        manifest carries everything main's would (the branch inherited
        main's txn map / COPY ledger / constraints at fork and extended
        them), so nothing is lost in the swap; racing main writers are
        excluded by the same exclusive-create commit protocol as any
        other publish."""
        broot = self._branch_root(name)
        with open(os.path.join(broot, "_fork.json")) as f:
            fork_v = int(json.load(f)["version"])
        cur = self.current_version()
        if cur != fork_v:
            raise CommitConflict(
                f"main is at v{cur} but branch {name!r} forked at "
                f"v{fork_v} — re-fork from head and replay the branch"
            )
        bm = load_manifest(broot, latest_version(broot))
        extra = self._manifest_extra(bm)
        extra["op"] = "FAST_FORWARD"
        return publish_version(
            self.root,
            bm["files"],
            cur,
            bm["stats"],
            extra=extra,
            ts=self.clock() if self.clock else None,
        )

    def drop_branch(self, name: str) -> None:
        """Remove the branch's LOG (and fork marker). Its data files
        stay on disk until a main-table VACUUM finds them unreferenced
        — fast-forwarded files are referenced by main manifests and
        survive; abandoned ones reclaim."""
        import shutil

        broot = self._branch_root(name)
        shutil.rmtree(os.path.join(broot, "_manifests"), ignore_errors=True)
        try:
            os.unlink(os.path.join(broot, "_fork.json"))
        except FileNotFoundError:
            pass

    def _refs_dir(self) -> str:
        d = os.path.join(self.root, "_refs")
        os.makedirs(d, exist_ok=True)
        return d

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named pointer to a snapshot (Iceberg tags): the
        tagged version becomes a VACUUM retention root — an audited or
        released snapshot stays readable regardless of the version
        window. Exclusive create: tags never silently move."""
        if not self._REF_NAME.match(name):
            raise ValueError(f"invalid ref name {name!r}")
        v = self.current_version() if version is None else version
        load_manifest(self.root, v)  # must exist / not vacuumed
        path = os.path.join(self._refs_dir(), f"{name}.json")
        try:
            with open(path, "x") as f:
                json.dump({"version": v}, f)
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        return v

    def tag_version(self, name: str) -> int:
        path = os.path.join(self.root, "_refs", f"{name}.json")
        try:
            with open(path) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            raise ValueError(f"no such tag {name!r}") from None

    def delete_tag(self, name: str) -> None:
        try:
            os.unlink(os.path.join(self.root, "_refs", f"{name}.json"))
        except FileNotFoundError:
            raise ValueError(f"no such tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        d = os.path.join(self.root, "_refs")
        out = {}
        if os.path.isdir(d):
            for f in sorted(os.listdir(d)):
                if f.endswith(".json"):
                    out[f[:-5]] = self.tag_version(f[:-5])
        return out

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY (Delta's audit view): one row per readable
        version, newest first — version, commit timestamp, the
        OPERATION label the write path banked (``APPEND`` / ``DELETE``
        / ``MERGE`` / ``OPTIMIZE`` / ``RESTORE`` / ``STREAMING WRITE``
        / ... ; manifests written before labels landed report
        ``UNKNOWN``), file counts, and the files added/removed vs the
        previous readable version. A pure metadata walk — O(retained
        versions) manifest reads, zero data access at any table size.
        Versions vacuumed past the retention window are simply absent
        (the audit horizon IS the retention window). With a log
        checkpoint present, the rows through the checkpointed version
        come from its precomputed history index (ONE read) and only the
        tail since it walks manifests — O(commits since checkpoint),
        not O(all versions); VACUUM rebuilds the checkpoint from the
        post-sweep readable log so the two sources always agree."""
        rows: list[tuple] = []
        prev_files: set[str] = set()
        start = 1
        ck = load_checkpoint(self.root)
        if ck is not None:
            rows = [tuple(r) for r in ck.get("history", [])]
            prev_files = set(
                (ck.get("state") or {}).get("files", [])
            )
            start = int(ck["version"]) + 1
            floor = int(ck.get("history_floor") or 1)
            if floor > 1:
                # versions below the checkpoint's capped history
                # window: ordinary manifest walk (same rows the index
                # would have held — it banked these very numbers
                # before the cap dropped them)
                pre: list[tuple] = []
                pf: set[str] = set()
                for v in range(1, floor):
                    try:
                        m = load_manifest(self.root, v)
                    except LogTruncated:
                        continue
                    pre.append(tuple(_history_row(m, v, pf)))
                    pf = set(m["files"])
                rows = pre + rows
        for v in range(start, self.current_version() + 1):
            try:
                m = load_manifest(self.root, v)
            except LogTruncated:
                continue
            rows.append(tuple(_history_row(m, v, prev_files)))
            prev_files = set(m["files"])
        return self.spark.createDataFrame(
            list(reversed(rows)),
            "version int, timestamp double, operation string, "
            "n_files int, n_added int, n_removed int, n_dv_files int",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """The ``files`` metadata table (Iceberg's ``table.files`` /
        Delta's file inventory): one row per VISIBLE file of a
        snapshot — path, banked byte size, banked row count (from the
        commit-time ``#nulls`` stats; NULL when the commit predates
        stats for the file), live tombstone count from its deletion
        vectors, and the partition values parsed from the path. Pure
        manifest walk: zero file opens at any table size — the
        operational surface for "which files hold this partition",
        "how skewed are my file sizes", "where are the tombstones"."""
        v = self.current_version() if version is None else version
        m = load_manifest(self.root, v)
        sizes = m.get("sizes") or {}
        rows = []
        for f in m["files"]:
            st = m["stats"].get(f) or {}
            nr = next(
                (
                    pair[1]
                    for k, pair in st.items()
                    if k.endswith(NULLS_SUFFIX) and pair is not None
                ),
                None,
            )
            rows.append(
                (
                    f,
                    sizes.get(f),
                    nr,
                    len(m["dv"].get(f, [])),
                    json.dumps(partition_values_from_path(f))
                    if partition_values_from_path(f)
                    else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "path string, size_bytes bigint, num_rows bigint, "
            "n_dv_sidecars int, partition_values string",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """The ``partitions`` metadata table (Iceberg's
        ``table.partitions``): one row per live partition tuple —
        visible file count, banked byte total, banked row total
        (PRE-tombstone: live DV sidecar count is surfaced alongside so
        a caller sees when the banked total over-counts and can fall
        back to ``metadata_count``'s exact DV subtraction), and whether
        banked stats cover every file of the tuple (``stats_complete``
        false means the row total is a lower bound). Unpartitioned
        files group under the NULL tuple. Built on ``files()``, so it
        stays a pure manifest walk — zero file opens at any table
        size: the "which partitions are hot / how skewed is the
        layout" answer costs O(files) metadata."""
        f = self.files(version)
        return (
            f.groupBy("partition_values")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum("size_bytes").cast("long").alias("total_bytes"),
                F.sum("num_rows").cast("long").alias("banked_rows"),
                F.sum("n_dv_sidecars").cast("long").alias(
                    "n_dv_sidecars"
                ),
                F.min(F.col("num_rows").isNotNull()).alias(
                    "stats_complete"
                ),
            )
        )

    def detail(self) -> dict:
        """DESCRIBE DETAIL (Delta's one-row table summary), from pure
        metadata: version, file/byte/row totals (banked sizes + stats;
        row total falls back to ``metadata_count`` exactness — DV
        tombstones subtracted), the protocol versions, and which
        writer-contract features are in force. The at-a-glance
        operational check before pointing a 1000-executor job at a
        table."""
        v = self.current_version()
        m = load_manifest(self.root, v)
        sizes = m.get("sizes") or {}
        return {
            "version": v,
            "n_files": len(m["files"]),
            "size_bytes": sum(
                sizes.get(f, 0) for f in m["files"]
            ),
            "num_rows": self.metadata_count(v),
            "protocol": m.get("protocol"),
            "partition_spec": m.get("partition_spec") or [],
            "n_constraints": len(m.get("constraints") or {}),
            "n_generated": len(m.get("generated") or {}),
            "n_defaults": len(m.get("defaults") or {}),
            "identity_columns": sorted(m.get("identity") or {}),
            "schema_enforcement": m.get("evolution") or "additive",
            "properties": m.get("properties") or {},
            "row_tracking": bool(m.get("row_tracking")),
            "bloom_cols": sorted(m.get("bloom_cols") or {}),
            "n_dv_files": sum(1 for d in m["dv"].values() if d),
            "branches": sorted(self.branches()),
            "tags": sorted(self.tags()),
        }

    @classmethod
    def convert_parquet_dir(
        cls,
        spark: SparkSession,
        path: str,
        stats_cols: list[str] | None = None,
        clock=None,
    ) -> "SnapshotTable":
        """CONVERT TO snapshot (Delta's ``CONVERT TO DELTA`` / Iceberg's
        ``migrate``): wrap a transaction log around an EXISTING plain
        parquet directory IN PLACE — zero data rewritten, zero bytes
        moved. v1 is a manifest listing the discovered files where they
        lie (recursive walk, so Hive/``__part_`` partition layouts
        convert too); ``stats_cols`` banks footer min/max + null/row
        counts for data skipping (the only read this performs: footers,
        never data pages). From v1 on the directory IS a snapshot table
        — time travel, MERGE, DVs, CDF, OPTIMIZE all apply; new commits
        write under ``data/`` while the originals stay referenced by
        absolute path. VACUUM only sweeps the table's own ``data/`` and
        sidecar dirs, so originals that age out of the log keep their
        bytes — the conservative posture a migration wants (the source
        stays intact until the operator deletes it)."""
        t = cls(spark, path, clock=clock)
        if t.current_version() > 0:
            raise ValueError(
                f"{path!r} is already a snapshot table "
                f"(version {t.current_version()})"
            )
        files = sorted(
            os.path.join(wr, f)
            for wr, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
            and os.sep + "_manifests" not in wr
        )
        if not files:
            raise ValueError(f"no parquet files under {path!r}")
        stats = (
            t._footer_stats(files, sorted(stats_cols))
            if stats_cols
            else {f: {} for f in files}
        )
        t._publish(files, 0, stats, op="CONVERT")
        return t

    def create_table_statements(self) -> list[str]:
        """SHOW CREATE TABLE: the DDL statements that recreate this
        table's CURRENT contract — schema from the logical read schema
        (so renames/widenings are applied, exactly what a new writer
        must match), partition spec / properties / CHECK constraints
        from the head manifest. Each list element is EXECUTABLE through
        ``sql_dml.snapshot_sql`` one at a time: constraints ride as
        ALTER TABLE statements after the CREATE (an expression may
        contain ';' so callers must not re-split the joined form), and
        identity / generated / default columns emit as their column clauses
        (``GENERATED ALWAYS AS IDENTITY (START WITH ...)`` continues
        past the banked high-water mark so a replayed log never
        re-issues taken ids)."""
        v = self.current_version()
        if v == 0:
            raise ValueError(
                "SHOW CREATE TABLE on an empty log: no schema exists "
                "until the first commit"
            )
        m = load_manifest(self.root, v)
        gens = m.get("generated") or {}
        dfls = m.get("defaults") or {}
        ident = m.get("identity") or {}
        col_lines = []
        for f in self.read(v).schema.fields:
            line = f"{f.name} {f.dataType.simpleString()}"
            if f.name in ident:
                meta = ident[f.name]
                # START WITH continues past the banked high-water mark:
                # a replayed log must never re-issue taken ids
                line += (
                    " GENERATED ALWAYS AS IDENTITY (START WITH "
                    f"{int(meta['high']) + int(meta['step'])} "
                    f"INCREMENT BY {int(meta['step'])})"
                )
            elif f.name in gens:
                line += f" GENERATED ALWAYS AS ({gens[f.name]})"
            elif f.name in dfls:
                line += f" DEFAULT {dfls[f.name]}"
            col_lines.append(line)
        cols = ",\n  ".join(col_lines)
        stmt = f"CREATE TABLE pysnapshot.`{self.root}` (\n  {cols}\n)"
        spec = m.get("partition_spec") or []
        if spec:
            stmt += "\nPARTITIONED BY (" + ", ".join(spec) + ")"
        props = m.get("properties") or {}
        if props:
            # SQL-escape embedded quotes so the emitted text replays
            # through snapshot_sql verbatim (a value like it's would
            # otherwise truncate the literal)
            stmt += "\nTBLPROPERTIES (" + ", ".join(
                "'{}' = '{}'".format(
                    str(k).replace("'", "''"),
                    str(val).replace("'", "''"),
                )
                for k, val in sorted(props.items())
            ) + ")"
        stmts = [stmt]
        for name, expr in sorted((m.get("constraints") or {}).items()):
            stmts.append(
                f"ALTER TABLE pysnapshot.`{self.root}` ADD CONSTRAINT {name} "
                f"CHECK ({expr})"
            )
        return stmts

    def create_table_ddl(self) -> str:
        """SHOW CREATE TABLE as one string. Joined on ';\\n' for
        display; statement-by-statement replay should iterate
        ``create_table_statements()`` instead — a constraint expression
        is free to contain ';' or newlines, which no flat-text
        separator can survive."""
        return ";\n".join(self.create_table_statements())

    def vacuum(
        self,
        retain_versions: int = 1,
        retain_seconds: float | None = None,
        now: float | None = None,
        dry_run: bool = False,
        orphan_grace_seconds: float | None = None,
    ) -> list[str]:
        """Garbage-collect data files unreachable from the newest
        ``retain_versions`` manifests (and drop the older manifests) —
        the VACUUM that makes rewrites reclaim space. Pure metadata walk:
        reachability = union of the retained manifests' file lists;
        everything else under data/ unlinks. Returns the deleted paths.
        ``dry_run=True`` (Delta's VACUUM ... DRY RUN) computes and
        returns the would-delete list from the same reachability walk
        but touches NOTHING — no unlinks, no manifest truncation, no
        checkpoint rebuild.
        Versions older than the retention window stop being readable, by
        design — retention is the time-travel horizon.

        ``retain_seconds`` (Delta's RETAIN n HOURS, via the banked
        commit timestamps) EXTENDS the keep window: every version
        committed at or after ``now - retain_seconds`` survives even if
        it falls outside ``retain_versions`` — the two retention axes
        compose as a union, so neither can shrink what the other
        promised. ``now`` is injectable for deterministic tests.

        TAGGED versions are retention roots: their manifests and files
        survive any window (delete the tag to release them). LIVE
        BRANCHES are GC roots too — a fork references main's files by
        absolute path, so reachability unions over every branch log;
        branch-local data/sidecar dirs are swept against the same union
        (dropping a branch's log is what makes its unpublished files
        collectable).

        IN-FLIGHT WRITER PROTECTION (``orphan_grace_seconds``, default
        ``VACUUM_ORPHAN_GRACE_SECONDS``): data files and sidecars the
        log has NEVER referenced are either a crashed commit's leftovers
        or a CONCURRENT writer's staged files whose manifest publish
        hasn't happened yet — indistinguishable from the outside. A
        file that aged OUT of the log is provably dead and reclaims
        immediately, but never-referenced files are kept until their
        mtime is older than the grace window (Delta's "don't VACUUM
        below the default retention" rule, Iceberg's
        remove_orphan_files ``older_than``); a vacuum racing a slow
        writer therefore cannot delete files out from under the commit
        that is about to publish them. Dropped-branch dirs (log gone)
        are exempt: dropping the log is the deliberate delete, and no
        in-flight writer can target a log that no longer exists."""
        import shutil
        import time as _time

        cur = self.current_version()
        lo = max(1, cur - retain_versions + 1)
        if retain_seconds is not None:
            if now is None:
                now = self.clock() if self.clock else _time.time()
            horizon = now - retain_seconds
            for v in range(1, cur + 1):
                try:
                    ts = load_manifest(self.root, v).get("ts")
                except LogTruncated:
                    continue
                if ts is not None and ts >= horizon:
                    lo = min(lo, v)
                    break
        tagged = {v for v in self.tags().values() if 1 <= v <= cur}
        keep_versions = sorted(set(range(lo, cur + 1)) | tagged)
        reachable: set[str] = set()
        reachable_dv: set[str] = set()
        reachable_bloom: set[str] = set()
        reachable_ndv: set[str] = set()
        reachable_ann: set[str] = set()
        # everything ANY readable manifest has ever referenced — the
        # committed/in-flight discriminator for the orphan grace window
        # (manifest truncation runs after the sweep, so the whole log
        # is still readable here)
        ever_files: set[str] = set()
        ever_dv: set[str] = set()
        ever_idx: set[str] = set()

        def _union_ever(m: dict) -> None:
            ever_files.update(m["files"])
            ever_dv.update(
                d for lst in m.get("dv", {}).values() for d in lst
            )
            ever_idx.update(
                s
                for percol in (m.get("blooms") or {}).values()
                for s in percol.values()
            )
            ever_idx.update((m.get("ndv") or {}).get("sidecars", []))
            a = m.get("ann")
            if a and a.get("dir"):
                ever_idx.add(a["dir"])

        def _union(m: dict) -> None:
            reachable.update(m["files"])
            reachable_dv.update(
                d for lst in m.get("dv", {}).values() for d in lst
            )
            reachable_bloom.update(
                s
                for percol in (m.get("blooms") or {}).values()
                for s in percol.values()
            )
            reachable_ndv.update(
                (m.get("ndv") or {}).get("sidecars", [])
            )
            a = m.get("ann")
            if a and a.get("dir"):
                reachable_ann.add(a["dir"])
            _union_ever(m)

        keep_set_main = set(keep_versions)
        for v in keep_versions:
            try:
                _union(load_manifest(self.root, v))
            except LogTruncated:
                # a tag created before tag-pinning existed may point at
                # an already-collected version — nothing to retain
                continue
        # ever-referenced info below the keep window, BOUNDED: only the
        # newest VACUUM_EVER_WALK_CAP below-window manifests walk. The
        # ever-set exists to distinguish committed-but-aged-out files
        # (delete now) from possibly-in-flight ones (grace); a file
        # referenced only by manifests older than the cap is ancient —
        # its mtime predates the grace horizon, so the mtime branch
        # deletes it identically, just via the other test. Keeps a
        # first-ever vacuum on a 500k-version log from reading the
        # whole log.
        for v in range(max(1, lo - VACUUM_EVER_WALK_CAP), lo):
            if v in keep_set_main:
                continue
            try:
                _union_ever(load_manifest(self.root, v))
            except LogTruncated:
                continue
        # every live branch is a GC root: its whole log stays readable
        # until the branch is dropped, and its manifests reference main
        # files by absolute path
        branch_roots = [
            self._branch_root(n) for n in self.branches()
        ]
        for broot in branch_roots:
            mdir = os.path.join(broot, "_manifests")
            if not os.path.isdir(mdir):
                continue
            for bv in range(1, latest_version(broot) + 1):
                try:
                    _union(load_manifest(broot, bv))
                except LogTruncated:
                    continue
        # vacuum ON A BRANCH: this table's root sits under a parent's
        # _branches/ dir, so files in OUR data dir may be referenced
        # from OUTSIDE this log — fast_forward publishes branch files
        # into the parent by absolute path, and sibling branches forked
        # after that publish inherit them. Union the parent's whole
        # readable log (and the sibling branch logs) into reachability
        # so a branch-local vacuum (after e.g. a branch OPTIMIZE
        # rewrite) can never delete a file the parent still serves.
        pdir = os.path.dirname(self.root.rstrip(os.sep))
        parent_root = os.path.dirname(pdir)
        if os.path.basename(pdir) == "_branches" and os.path.isdir(
            os.path.join(parent_root, "_manifests")
        ):
            ext_roots = [parent_root]
            for n in sorted(os.listdir(pdir)):
                sib = os.path.join(pdir, n)
                if os.path.realpath(sib) == os.path.realpath(self.root):
                    continue
                if os.path.isdir(os.path.join(sib, "_manifests")):
                    ext_roots.append(sib)
            for xroot in ext_roots:
                for xv in range(1, latest_version(xroot) + 1):
                    try:
                        _union(load_manifest(xroot, xv))
                    except LogTruncated:
                        continue
        deleted: list[str] = []
        grace = (
            VACUUM_ORPHAN_GRACE_SECONDS
            if orphan_grace_seconds is None
            else orphan_grace_seconds
        )
        # the orphan horizon compares against FILE MTIMES, which are
        # wall-clock — always real time, never the injectable logical
        # clock (tests force collection with orphan_grace_seconds=0)
        orphan_horizon = _time.time() - grace

        def _collectable(p: str, ever: set, protected: bool) -> bool:
            """Unreachable ⇒ delete, UNLESS the path was never
            committed anywhere and is younger than the grace window —
            that's potentially a racing writer's staged file."""
            if not protected or p in ever:
                return True
            try:
                return os.path.getmtime(p) < orphan_horizon
            except OSError:
                return False

        # sweep main's data dir AND every branch dir under _branches
        # (including dropped branches whose logs are gone — their
        # orphaned files are exactly what must reclaim) against the
        # unioned reachability. Recursive walk: partition-spec'd
        # commits nest files under __part_<col>=<value>/ directories.
        bdir = os.path.join(self.root, "_branches")
        sweep_roots = [self.root] + (
            [os.path.join(bdir, n) for n in sorted(os.listdir(bdir))]
            if os.path.isdir(bdir)
            else []
        )
        for sroot in sweep_roots:
            # a root with no live log cannot have an in-flight writer:
            # dropped-branch leftovers collect without the grace window
            prot = os.path.isdir(os.path.join(sroot, "_manifests"))
            data_root = os.path.join(sroot, "data")
            if os.path.isdir(data_root):
                for walk_root, _dirs, fs in os.walk(data_root):
                    for f in fs:
                        p = os.path.join(walk_root, f)
                        if (
                            f.endswith(".parquet")
                            and p not in reachable
                            and _collectable(p, ever_files, prot)
                        ):
                            if not dry_run:
                                os.unlink(p)
                            deleted.append(p)
            # deletion-vector sidecar dirs unreachable from the window
            dv_root = os.path.join(sroot, "deletes")
            if os.path.isdir(dv_root):
                for d in os.listdir(dv_root):
                    full = os.path.join(dv_root, d)
                    if full not in reachable_dv and _collectable(
                        full, ever_dv, prot
                    ):
                        if not dry_run:
                            shutil.rmtree(full, ignore_errors=True)
                        deleted.append(full)
            # bloom index sidecars unreferenced from the window
            # (dropped indexes, rewritten files); ANALYZE sketch
            # sidecar dirs unreferenced from any retained manifest
            idx_root = os.path.join(sroot, "_indexes")
            if os.path.isdir(idx_root):
                for f in os.listdir(idx_root):
                    p = os.path.join(idx_root, f)
                    if (
                        f.endswith(".bloom.json")
                        and p not in reachable_bloom
                        and _collectable(p, ever_idx, prot)
                    ):
                        if not dry_run:
                            os.unlink(p)
                        deleted.append(p)
                    elif (
                        f.startswith("ndv_")
                        and os.path.isdir(p)
                        and p not in reachable_ndv
                        and _collectable(p, ever_idx, prot)
                    ):
                        if not dry_run:
                            shutil.rmtree(p, ignore_errors=True)
                        deleted.append(p)
                    elif (
                        f.startswith("ann_")
                        and os.path.isdir(p)
                        and p not in reachable_ann
                        and _collectable(p, ever_idx, prot)
                    ):
                        if not dry_run:
                            shutil.rmtree(p, ignore_errors=True)
                        deleted.append(p)
            # bucketed-view symlink farms (register_bucketed_view):
            # ephemeral registration artifacts, never referenced by
            # any manifest — a farm older than the grace window
            # sweeps (a consumer must re-register after VACUUM anyway:
            # collected data files would leave its links dangling);
            # younger farms stay, they may back a just-registered view
            bv_root = os.path.join(sroot, "_bucket_views")
            if os.path.isdir(bv_root):
                for d in sorted(os.listdir(bv_root)):
                    full = os.path.join(bv_root, d)
                    try:
                        old = (
                            os.path.getmtime(full) < orphan_horizon
                        )
                    except OSError:
                        old = False
                    if old:
                        if not dry_run:
                            shutil.rmtree(full, ignore_errors=True)
                        deleted.append(full)
        if dry_run:
            return deleted
        keep_set = set(keep_versions)
        for v in range(1, lo):
            if v in keep_set:
                continue  # tagged below the window: pinned
            try:
                os.unlink(self._manifest_path(v))
            except FileNotFoundError:
                pass
        # the log checkpoint is a cache over the READABLE log — rebuild
        # it from the post-sweep manifests so its history index never
        # resurrects vacuumed versions (and the first surviving row's
        # add/remove diff re-bases on an empty prior set, exactly what
        # a fresh walk of the truncated log would compute). Drop first,
        # rebuild after: a crash between the two leaves no checkpoint,
        # which only costs the next reader a full walk.
        mdir = os.path.join(self.root, "_manifests")
        for fn in os.listdir(mdir):
            if fn.startswith("ckpt_v"):
                try:
                    os.unlink(os.path.join(mdir, fn))
                except OSError:
                    pass
        try:
            ptr = _read_pointer(self.root)
            if ptr is not None and ptr.get("checkpoint"):
                _ptr_tmp = _pointer_path(self.root) + (
                    f".tmp.{uuid.uuid4().hex}"
                )
                with open(_ptr_tmp, "w") as f:
                    json.dump(
                        {"head": int(ptr.get("head", cur)),
                         "checkpoint": None},
                        f,
                    )
                os.replace(_ptr_tmp, _pointer_path(self.root))
            write_checkpoint(self.root, cur)
        except Exception:
            pass
        return sorted(deleted)

"""Parts table — the MergeTree storage lifecycle, Spark-first.

The reference's warehouse IS ClickHouse: every gold table is a MergeTree
variant (ClickHouse DDL 143-146: ``MergeTree PARTITION BY toYYYYMM ...``;
README.md:437 star schema), where each INSERT lands as an immutable *part*,
background merges compact parts, ``ReplacingMergeTree`` collapses rows per
key at merge/FINAL time, ``SummingMergeTree`` sums value columns, and
readers always see a consistent set of committed parts. This module is the
Spark/Parquet re-expression of that lifecycle — not a file-format clone but
the same contract:

- **INSERT = new immutable part + atomic commit.** Data lands in its own
  ``parts/p-<uuid>`` directory, invisible until a *version file* commits it.
  A crash before commit leaves an orphan directory readers never see.
- **One part layout.** Inserts, merges and mutations all write their
  parts through ``_write_part``: partitioned tables hash-shuffle by the
  partition column, unpartitioned ones range-shuffle by ``order_by`` (or,
  when none is declared, the table key — ClickHouse's key IS an ORDER BY
  prefix), then sort within; an unkeyed, unordered table keeps the input
  partitioning. Every part is one sorted run with min/max-disjoint files.
- **Version log with optimistic concurrency.** ``_versions/v<N>.json``
  enumerates the live parts (with per-part sequence numbers). Every
  commit — insert, both OPTIMIZEs, mutation — goes through ``_commit``:
  read the head version, build the next doc with the op's own conflict
  rule, carry the transaction and content-dedup sets forward, and
  create-exclusive ``v<N+1>.json`` (``os.link`` locally /
  ``FileSystem.rename`` on Hadoop — both atomic namespace ops); a racing
  committer loses cleanly, re-reads, and retries at ``N+2``. This is the
  same protocol Delta's HDFSLogStore uses for its ``_delta_log`` and the
  analogue of ClickHouse's single-replica part-commit.
- **Replay-safe inserts.** An optional ``batch_id`` is recorded in the
  version log; a retried insert whose id is already committed is a no-op
  (ClickHouse's insert-block dedup / Delta txnAppId). Every later commit
  carries the ids, so a replay stays a no-op across merges and mutations.
- **Merge-on-read FINAL.** ``engine="replacing"`` keeps, per key, the row
  with the MAX ``version_col`` — ClickHouse ReplacingMergeTree(ver)'s
  documented semantics: the version column dominates regardless of
  insert/part order, so a late-arriving insert carrying an OLDER version
  (out-of-order CDC — the case ``ver`` exists for) never overwrites
  newer state. Version ties break by part sequence (last insert wins —
  the deterministic stand-in for ClickHouse's "last in the selection").
  ``engine="summing"`` sums ``sum_cols`` per key. ``engine="append"`` is
  plain MergeTree.
- **Collapsing state machine.** ``engine="collapsing"`` is
  VersionedCollapsingMergeTree: every row carries ``sign_col`` (+1 state /
  -1 cancel) and ``version_col``; FINAL cancels (+1, -1) pairs per
  (key, version) and keeps the unmatched side. Determinism contract (the
  same well-formedness ClickHouse assumes): at most one state and one
  cancel row per (key, version) over the table's lifetime, so the net
  sign is always in {-1, 0, +1} and pair-cancellation is associative
  across arbitrary partial merges.
- **Mergeable aggregate states.** ``engine="aggregating"`` is
  AggregatingMergeTree: rows are PARTIAL aggregate states per key (built
  with :func:`aggregate_states`), merged at FINAL/OPTIMIZE by the
  per-column functions in ``agg_spec`` (``sum``/``min``/``max`` — each
  associative and commutative, so part boundaries never change the
  answer). A continuously-inserted aggregating table is the reference's
  materialized-view pattern with O(|keys|) read cost however many raw
  rows ever streamed in.
- **TTL.** ``ttl_col`` (a NUMERIC epoch-seconds column — deliberately not
  a timestamp, so no session-timezone cast can shift expiry) +
  ``ttl_seconds`` expire rows: reads pass an explicit ``as_of`` (never a
  hidden wall clock — replays and oracles see identical data) and
  OPTIMIZE physically drops expired rows when given ``as_of``, exactly
  like ClickHouse applying TTL at merge time.
- **OPTIMIZE = physical merge.** Rewrites a *seq-contiguous prefix* of the
  live parts into one part with the engine collapse applied, committing a
  new version; the merged part carries the max input sequence. Merging
  only a contiguous prefix is what keeps partial merges correct: a
  survivor carrying seq 1 must never claim the last-insert tie-break
  against an unmerged seq 2 row of the same version. A full merge marks
  the version ``collapsed`` so FINAL reads skip the dedup window
  entirely.
- **Time travel.** Any retained version is readable (``version=N``);
  superseded versions stay until ``vacuum_parts`` drops them.
- **VACUUM.** Deletes version files beyond the retention window and part
  directories no retained version references. Orphans (crashed inserts)
  are removed only past ``orphan_ttl_secs`` — an in-flight insert's
  uncommitted part must not be swept (the same mtime guard Delta's VACUUM
  uses).

Scale posture (100 TB table, 1000 executors): the version log holds one
small JSON per version (driver-side reads of a few KB — never listed by
executors); parts are ordinary partitioned parquet, so partition pruning
and row-group skipping work inside every part; a FINAL read costs one
hash shuffle by key over the union of live parts — exactly what a
ReplacingMergeTree FINAL costs ClickHouse — and OPTIMIZE amortizes it to
zero (``collapsed`` fast path). All FS mutations route through the
local/Hadoop backends of :mod:`.storage`, so ``hdfs://`` /
``viewfs://`` / ``s3a://`` paths behave identically to local ones.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .storage import io_for, join

TABLE_META = "table.json"
SCHEMA_META = "schema.json"
VERSIONS_DIR = "_versions"
PARTS_DIR = "parts"

_ENGINES = ("append", "replacing", "summing", "collapsing", "aggregating")
#: state functions an aggregating table / projection may declare.
#: sum/min/max are their own combiners; "hll" is the asymmetric pair
#: (create = hll_sketch_agg over raw values, merge = hll_union_agg over
#: sketch blobs) — ClickHouse's uniqState/uniqMerge. Sketch blobs may
#: legally re-encode across merge orders; ESTIMATES are the stable API.
_AGG_FNS = ("sum", "min", "max", "hll")


def _state_agg(col: str, fn: str):
    """The -State half: applied to RAW values by aggregate_states."""
    return F.hll_sketch_agg(col) if fn == "hll" else getattr(F, fn)(col)


def _merge_agg(col: str, fn: str):
    """The -Merge half: applied to PARTIAL STATES by the collapse."""
    return F.hll_union_agg(col) if fn == "hll" else getattr(F, fn)(col)


# ---------------------------------------------------------------------------
# metadata
# ---------------------------------------------------------------------------


def create_parts_table(
    path: str,
    *,
    engine: str = "append",
    key_cols: Sequence[str] = (),
    version_col: str | None = None,
    sum_cols: Sequence[str] = (),
    sign_col: str | None = None,
    agg_spec: dict[str, str] | None = None,
    ttl_col: str | None = None,
    ttl_seconds: float | None = None,
    partition_col: str | None = None,
    order_by: Sequence[str] = (),
    projections: dict[str, dict] | None = None,
    sample_col: str | None = None,
) -> dict:
    """Create (or idempotently re-create) a parts table at ``path``.

    ``replacing`` requires ``key_cols`` + ``version_col`` (the explicit,
    deterministic tie-break ClickHouse makes optional); ``summing``
    requires ``key_cols`` + ``sum_cols``; ``collapsing`` requires
    ``key_cols`` + ``sign_col`` + ``version_col`` (VersionedCollapsing —
    the deterministic variant; plain Collapsing's "row order within the
    insert" tie-break is not reproducible); ``aggregating`` requires
    ``key_cols`` + ``agg_spec`` mapping each state column to one of
    ``sum``/``min``/``max``. ``ttl_col`` must be a numeric epoch-seconds
    column and comes with ``ttl_seconds``. Re-creating with identical
    metadata is a no-op; different metadata raises — table identity is
    immutable, like a ClickHouse DDL mismatch."""
    if engine not in _ENGINES:
        raise ValueError(f"engine must be one of {_ENGINES}, got {engine!r}")
    if engine == "replacing" and (not key_cols or not version_col):
        raise ValueError("replacing engine needs key_cols and version_col")
    if engine == "summing" and (not key_cols or not sum_cols):
        raise ValueError("summing engine needs key_cols and sum_cols")
    if engine == "collapsing" and (not key_cols or not sign_col or not version_col):
        raise ValueError("collapsing engine needs key_cols, sign_col and version_col")
    if engine == "aggregating":
        if not key_cols or not agg_spec:
            raise ValueError("aggregating engine needs key_cols and agg_spec")
        bad = {c: f for c, f in agg_spec.items() if f not in _AGG_FNS}
        if bad:
            raise ValueError(f"agg_spec functions must be one of {_AGG_FNS}, got {bad}")
    if (ttl_col is None) != (ttl_seconds is None):
        raise ValueError("ttl_col and ttl_seconds must be set together")
    if ttl_seconds is not None and not ttl_seconds > 0:
        raise ValueError("ttl_seconds must be positive")
    if projections:
        # projections aggregate rows AS INSERTED. Under replacing/
        # collapsing/TTL semantics superseded or expired rows would leak
        # into the projection answer (the same reason ClickHouse restricts
        # projections with FINAL), and under summing/aggregating a merge
        # collapses rows BEFORE the projection recompute, so min/max
        # projections would silently change meaning — append only.
        if engine != "append" or ttl_col:
            raise ValueError("projections require the append engine without TTL")
        for pname, spec in projections.items():
            if not spec.get("key_cols") or not spec.get("agg_spec"):
                raise ValueError(f"projection {pname!r} needs key_cols and agg_spec")
            bad = {
                c: f for c, f in spec["agg_spec"].items() if f not in _AGG_FNS
            }
            if bad:
                raise ValueError(
                    f"projection {pname!r} agg functions must be one of "
                    f"{_AGG_FNS}, got {bad}"
                )
    if sample_col and engine != "append" and sample_col not in key_cols:
        # sampling must select WHOLE keys, or FINAL over a sample would
        # see torn version histories (ClickHouse: SAMPLE BY must be part
        # of the primary key, same reason)
        raise ValueError("sample_col must be one of key_cols for keyed engines")
    meta = {
        "engine": engine,
        "key_cols": list(key_cols),
        "version_col": version_col,
        "sum_cols": list(sum_cols),
        "sign_col": sign_col,
        "agg_spec": dict(agg_spec) if agg_spec else None,
        "ttl_col": ttl_col,
        "ttl_seconds": ttl_seconds,
        "partition_col": partition_col,
        "order_by": list(order_by),
        "projections": {
            k: {"key_cols": list(v["key_cols"]), "agg_spec": dict(v["agg_spec"])}
            for k, v in (projections or {}).items()
        }
        or None,
        "sample_col": sample_col,
    }
    io, base = io_for(path)
    io.mkdirs(join(io, base, VERSIONS_DIR))
    io.mkdirs(join(io, base, PARTS_DIR))
    existing = io.read_text(join(io, base, TABLE_META))
    if existing is not None:
        # tables created before an engine was added lack its meta keys —
        # normalize with the defaults before comparing
        old = dict.fromkeys(
            (
                "sign_col",
                "agg_spec",
                "ttl_col",
                "ttl_seconds",
                "projections",
                "sample_col",
            )
        )
        old.update(json.loads(existing))
        if old != meta:
            raise ValueError(f"parts table at {path} exists with different metadata")
        return meta
    io.write_swap(base, TABLE_META, json.dumps(meta, sort_keys=True))
    return meta


def _load_meta(io, base: str) -> dict:
    text = io.read_text(join(io, base, TABLE_META))
    if text is None:
        raise FileNotFoundError(f"no parts table at {base} (missing {TABLE_META})")
    return json.loads(text)


def _version_ids(io, base: str) -> list[int]:
    d = join(io, base, VERSIONS_DIR)
    out = []
    for name in io.list_names(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_version(io, base: str, n: int) -> dict:
    text = io.read_text(join(io, base, VERSIONS_DIR, f"v{n}.json"))
    if text is None:
        raise FileNotFoundError(f"version {n} does not exist (or was vacuumed)")
    doc = json.loads(text)
    if not isinstance(doc, dict) or "parts" not in doc:
        raise RuntimeError(f"corrupt version file v{n}.json")
    # tables written before app-id namespaces keep a flat ``batch_ids``
    # list: it is the "" namespace. Normalized here, and only here, so
    # every commit built from this doc carries those ids forward.
    txns = doc.setdefault("txns", {})
    legacy = doc.pop("batch_ids", None)
    if legacy:
        txns[""] = sorted(set(txns.get("", [])) | set(legacy))
    return doc


def current_version(path: str) -> int:
    """Latest committed version (0 = empty table)."""
    io, base = io_for(path)
    ids = _version_ids(io, base)
    return max(ids) if ids else 0


def table_history(path: str) -> list[dict]:
    """The retained commit log, oldest first: one dict per version with
    op / part count / batch ids — the ``DESCRIBE HISTORY`` analogue."""
    io, base = io_for(path)
    out = []
    for n in _version_ids(io, base):
        doc = _read_version(io, base, n)
        flat = sorted({b for v in doc["txns"].values() for b in v})
        out.append(
            {
                "version": n,
                "op": doc.get("op"),
                "n_parts": len(doc["parts"]),
                "batch_ids": flat,
                "collapsed": bool(doc.get("collapsed", False)),
            }
        )
    return out


# ---------------------------------------------------------------------------
# commit + part layout (shared by insert, optimize and mutate)
# ---------------------------------------------------------------------------


def _head(io, base: str) -> tuple[int, dict]:
    """The latest version number and its doc (an empty doc at 0)."""
    ids = _version_ids(io, base)
    if not ids:
        return 0, {"parts": [], "txns": {}}
    return ids[-1], _read_version(io, base, ids[-1])


def _by_seq(parts: list[dict]) -> list[dict]:
    return sorted(parts, key=lambda q: (q["seq"], q["name"]))


def _part_key(p: dict) -> tuple:
    """A live part's identity for conflict checks: name + skip list."""
    return p["name"], tuple(p.get("skip", []))


def _commit(io, base: str, op: str, build: Callable[[dict], dict | None]) -> tuple[int, bool]:
    """The one optimistic commit loop. ``build(cur)`` turns the head
    version doc into the next doc's ``parts``/``collapsed`` (plus any
    op-specific keys), raising when the op's own conflict rule fails, or
    returns None to commit nothing (an insert whose id committed under
    it). ``txns`` and ``content`` carry forward unless ``build`` returns
    extended sets. A lost create-exclusive race re-reads and rebuilds —
    part data is never rewritten. Returns (version, committed)."""
    while True:
        ver, cur = _head(io, base)
        doc = build(cur)
        if doc is None:
            return ver, False
        carried = {"txns": cur["txns"]}
        if cur.get("content"):
            carried["content"] = cur["content"]
        doc = {"op": op, **carried, **doc}
        if io.write_exclusive(join(io, base, VERSIONS_DIR), f"v{ver + 1}.json", json.dumps(doc)):
            return ver + 1, True


def _write_part(df: DataFrame, io, base: str, meta: dict) -> str:
    """Write ``df`` as a new, not yet committed part and return its name.

    The one layout rule every insert, merge and mutation uses. ClickHouse's
    table key IS an ORDER BY prefix, so a keyed engine with no explicit
    ``order_by`` still sorts its parts by the key, which is what makes
    FINAL's per-key collapse read clustered data. Partitioned tables
    hash-shuffle by the partition column and sort within. Unpartitioned
    ones range-shuffle on the sort key, then sort within: the part comes
    out GLOBALLY sorted with min/max-disjoint files — real MergeTree part
    semantics (every part is one sorted run), maximal row-group skipping
    on the sort key, and AQE right-sizes the range partitions so file
    count tracks data volume. Keeping the input partitioning instead
    writes one output file PER SOURCE SPLIT: measured on the sf100 ladder,
    the orders insert wrote ~1600 3 MB files per part and the ladder
    exponent for insert+optimize went to 1.5 on small-file overhead alone.
    Cost is one shuffle of the rows written — the sort ClickHouse also
    pays at insert. Only an unkeyed, unordered, unpartitioned table keeps
    the input partitioning (there is nothing to sort by)."""
    name = f"p-{uuid.uuid4().hex}"
    part_path = join(io, base, PARTS_DIR, name)
    pcol = meta["partition_col"]
    order_by = meta["order_by"] or meta["key_cols"]
    if pcol:
        df = df.repartition(F.col(pcol))
        if order_by:
            df = df.sortWithinPartitions(pcol, *order_by)
        df.write.mode("error").partitionBy(pcol).parquet(part_path)
    else:
        if order_by:
            df = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
        df.write.mode("error").parquet(part_path)
    _write_projections(io, df.sparkSession, part_path, meta)
    return name


def _write_projections(io, spark: SparkSession, part_path: str, meta: dict) -> None:
    """Materialize each declared projection INSIDE the part directory
    (``_proj_<name>`` — the underscore prefix hides it from the base
    part's file listing, the ``_delta_log`` convention). Written before
    the version commit, so base rows and projection states become visible
    ATOMICALLY — exactly ClickHouse's part-level projection contract.

    States are computed from the JUST-WRITTEN part files, never from the
    caller's DataFrame: re-executing the input plan could legally produce
    different rows (rand()-derived columns, a re-fetched source), and the
    states must agree with the exact base rows they commit with. A merged
    or mutated part's states are likewise recomputed from its own rows —
    append-engine merges only concatenate, so this equals merging the
    input parts' projection states."""
    if not meta.get("projections"):
        return
    written = spark.read.parquet(part_path)
    for pname, spec in meta["projections"].items():
        states = aggregate_states(written, spec["key_cols"], spec["agg_spec"])
        states.write.mode("error").parquet(join(io, part_path, f"_proj_{pname}"))


# ---------------------------------------------------------------------------
# insert
# ---------------------------------------------------------------------------


def content_fingerprint(df: DataFrame) -> int:
    """Order-independent 64-bit fingerprint of a frame's rows: XOR of
    per-row xxhash64 over the canonical JSON of the sorted columns, mixed
    with the row count (XOR alone cannot tell {} from {x, x}). The same
    rows give the same fingerprint under any partitioning or row order —
    the block checksum ClickHouse dedups retried inserts by."""
    cols = ", ".join(f"`{c}`" for c in sorted(df.columns))
    agg = df.agg(
        F.expr(f"bit_xor(xxhash64(to_json(struct({cols}))))").alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    x = agg["x"] if agg["x"] is not None else 0
    return int(x) ^ int(agg["n"])


def insert_into_parts(
    df: DataFrame,
    path: str,
    *,
    batch_id: int | None = None,
    app_id: str | None = None,
    dedup_content: bool = False,
) -> dict:
    """Append ``df`` as one new immutable part and commit it.

    Two-phase: (1) write the part directory (partitioned + sorted per the
    table metadata, :func:`_write_part` — row-group min/max skipping stays
    selective inside every part); (2) commit via create-exclusive of the
    next version file.
    A concurrent committer forces a re-read + retry — the part data is
    NOT rewritten, only the commit is re-attempted, so contention costs
    one small-file race per retry. A crash between the phases leaves an
    invisible orphan for ``vacuum_parts``.

    ``batch_id`` makes the insert replay-safe: ids live in the version
    log's cumulative set, and a committed id turns the retry into a no-op
    before any data is written. ``app_id`` namespaces the ids (Delta's
    ``txnAppId``): a restarted stream whose checkpoint was RESET gets a
    fresh query id, so its restarted batch 0 is a new transaction, not a
    silently-skipped replay; the stream re-ingests, and because every
    insert lands in its own part directory the two streams' batches can
    never overwrite each other.

    ``dedup_content=True`` adds ClickHouse's OTHER insert dedup: the
    block CONTENT fingerprint (order-independent, :func:`content_
    fingerprint`) is recorded in the version log, and re-inserting
    byte-identical rows is a no-op even with no batch_id — the retry
    protection for producers that cannot carry a transaction id. Costs
    one extra aggregate job per insert, hence opt-in."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    app = app_id or ""
    fp: int | None = None

    def replayed(cur: dict) -> bool:
        return (batch_id is not None and batch_id in cur["txns"].get(app, [])) or (
            fp is not None and fp in cur.get("content", [])
        )

    ver, cur = _head(io, base)
    if replayed(cur):
        return {"version": ver, "replayed": True, "part": None}
    if dedup_content:
        fp = content_fingerprint(df)
        if replayed(cur):
            return {"version": ver, "replayed": True, "part": None}

    if ver == 0 and io.read_text(join(io, base, SCHEMA_META)) is None:
        # record the row schema once, at first insert: a later OPTIMIZE or
        # mutation whose output vanishes (all rows TTL-expired / cancelled /
        # deleted) commits a version with ZERO parts, and read_parts needs
        # the schema to hand back an empty frame — ClickHouse returns an
        # empty result for an empty table, it does not error
        io.write_swap(base, SCHEMA_META, df.schema.json())

    part_name = _write_part(df, io, base, meta)

    def build(cur: dict) -> dict | None:
        if replayed(cur):
            # another writer committed our id while we wrote data: the
            # duplicate part stays an orphan (vacuum sweeps it)
            return None
        seq = 1 + max((p["seq"] for p in cur["parts"]), default=0)
        doc = {"parts": cur["parts"] + [{"name": part_name, "seq": seq}], "collapsed": False}
        if batch_id is not None:
            doc["txns"] = {**cur["txns"], app: sorted({*cur["txns"].get(app, []), batch_id})}
        if fp is not None:
            doc["content"] = sorted({*cur.get("content", []), fp})
        return doc

    ver, committed = _commit(io, base, "insert", build)
    return {"version": ver, "replayed": not committed, "part": part_name if committed else None}


# ---------------------------------------------------------------------------
# read (+ FINAL, + time travel)
# ---------------------------------------------------------------------------


def _partition_dirs(io, base: str, part_name: str, pcol: str) -> dict[str, str]:
    """Partition value -> subdirectory path of one part — one
    ``list_names`` metadata call, never a data scan. Values are decoded
    from the directory names the Hive-style writer escapes (``:`` ->
    ``%3A``), and paths are those ACTUAL names, never rebuilt from the
    decoded values."""
    d = join(io, base, PARTS_DIR, part_name)
    return {
        unquote(name.split("=", 1)[1]): join(io, d, name)
        for name in sorted(io.list_names(d))
        if name.startswith(f"{pcol}=")
    }


def _recorded_schema(io, base: str) -> T.StructType | None:
    """The row schema recorded at first insert (None for a table written
    before the schema file existed)."""
    text = io.read_text(join(io, base, SCHEMA_META))
    return None if text is None else T.StructType.fromJson(json.loads(text))


def _partition_type(io, base: str, pcol: str | None) -> T.DataType | None:
    """The type recorded at first insert for the partition column (None
    for an unpartitioned table or one without a schema file)."""
    schema = _recorded_schema(io, base) if pcol else None
    if schema is None or pcol not in schema.fieldNames():
        return None
    return schema[pcol].dataType


def _read_part_df(
    spark: SparkSession, io, base: str, p: dict, pcol: str | None,
    pcol_type: T.DataType | None, only: set[str] | None = None,
):
    """Read one live part, honoring its ``skip`` list (and, for a
    partition-scoped merge, the ``only`` partitions asked for) by reading
    ONLY those partition subdirectories (a pure metadata restriction —
    ``basePath`` keeps the partition column; no filter, no scan of the
    other data). Returns None when no partition is left to read.

    Data columns keep the types the part was written with (merges widen
    sums; ``unionByName`` widens across parts). Only the partition
    column, whose type Spark infers from the directory names, is re-read
    as ``pcol_type`` when the inference differs: a string ``"202601"``
    would otherwise come back as an integer, and ``"007"`` as ``7``."""
    d = join(io, base, PARTS_DIR, p["name"])
    paths, reader = [d], spark.read
    skip = set(p.get("skip", []))
    if pcol and (skip or only is not None):
        paths = [
            sub
            for v, sub in _partition_dirs(io, base, p["name"], pcol).items()
            if v not in skip and (only is None or v in only)
        ]
        if not paths:
            return None
        reader = reader.option("basePath", d)
    df = reader.parquet(*paths)
    if pcol_type is None or df.schema[pcol].dataType == pcol_type:
        return df
    schema = T.StructType(
        [T.StructField(f.name, pcol_type, f.nullable) if f.name == pcol else f for f in df.schema]
    )
    return reader.schema(schema).parquet(*paths)


def _tagged_union(
    spark: SparkSession, io, base: str, meta: dict, legs: list[tuple[dict, set[str] | None]]
) -> DataFrame | None:
    """Union of ``(part, only)`` legs in sequence order, each read by
    :func:`_read_part_df` with the recorded partition type and tagged with
    its commit sequence as ``_part_seq`` via a literal column — the union
    stays a metadata operation; no data moves until a collapse's one key
    shuffle. None when no leg has a partition left to read."""
    pcol = meta.get("partition_col")
    pcol_type = _partition_type(io, base, pcol)
    df = None
    for p, only in legs:
        leg = _read_part_df(spark, io, base, p, pcol, pcol_type, only)
        if leg is None:
            continue
        leg = leg.withColumn("_part_seq", F.lit(int(p["seq"])))
        df = leg if df is None else df.unionByName(leg)
    return df


def read_parts(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    final: bool = False,
    as_of: float | None = None,
    sample_frac: float | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest). ``final=True``
    applies the engine's collapse (ReplacingMergeTree FINAL / summing /
    collapsing pair-cancellation / aggregating state merge); for an
    ``append`` table it is a no-op.

    ``as_of`` (epoch seconds) applies the table's TTL: rows whose
    ``ttl_col + ttl_seconds <= as_of`` are excluded, BEFORE the collapse
    (expired versions must not win a replacing window). It is an explicit
    parameter, never a hidden ``now()`` — reads stay deterministic and
    replayable. Without ``as_of`` a TTL table reads un-expired (the
    ClickHouse posture before a merge runs).

    ``sample_frac`` (0, 1] is ClickHouse's ``SAMPLE`` clause: rows whose
    ``sample_col`` md5-bucket falls under the fraction — a DETERMINISTIC
    sample (a pure function of the key, the same rows every run and on
    every engine), applied before the collapse so whole keys are in or
    out together (``sample_col`` ∈ key_cols by construction for keyed
    engines). Cheap: a narrow filter, no shuffle.

    Each part is read as plain parquet and tagged with its commit
    sequence via a literal column — the union stays a metadata operation;
    no data moves until the collapse's one key shuffle. When the version
    is marked ``collapsed`` (a full OPTIMIZE), FINAL skips the window —
    the read is a straight scan."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    ver = current_version(path) if version is None else version
    if ver == 0:
        raise FileNotFoundError(f"parts table at {path} has no committed version")
    doc = _read_version(io, base, ver)
    df = _tagged_union(spark, io, base, meta, [(p, None) for p in _by_seq(doc["parts"])])
    if df is None:
        # a legitimately empty table (full OPTIMIZE whose rows all
        # TTL-expired or pair-cancelled, or a mutation that deleted
        # everything) stays READABLE: hand back an empty frame with the
        # schema recorded at first insert, like ClickHouse's empty result
        schema = _recorded_schema(io, base)
        if schema is None:  # pre-schema-file table: can't conjure one
            raise FileNotFoundError(f"version {ver} of {path} is empty")
        return spark.createDataFrame([], schema)
    df = _apply_ttl(df, meta, as_of)
    df = _apply_sample(df, meta, sample_frac)

    if not final or meta["engine"] == "append" or doc.get("collapsed", False):
        return df.drop("_part_seq")
    return _collapse(df, meta).drop("_part_seq")


def _apply_ttl(df: DataFrame, meta: dict, as_of: float | None) -> DataFrame:
    """Filter expired rows. ``ttl_col`` is numeric epoch seconds by
    contract — integer arithmetic, no timestamp casts, so expiry never
    shifts with the session timezone."""
    if as_of is None or not meta.get("ttl_col"):
        return df
    # bare column-vs-literal comparison: pushdown-eligible, so parquet
    # row-group stats prune parts with no expired rows at footer cost.
    # The threshold is a driver-side Python float (as_of - ttl_seconds);
    # a boundary value that isn't exactly representable can flip by 1 ulp
    # vs the old column-side `col + ttl > as_of` spelling — acceptable
    # for the pushdown win, and the maintenance sweep below uses the SAME
    # precomputed-literal form, so read and expiry stay mutually
    # consistent (a row is never visible to one and expired by the other)
    return df.filter(F.col(meta["ttl_col"]) > F.lit(as_of - meta["ttl_seconds"]))


def _apply_sample(df: DataFrame, meta: dict, frac: float | None) -> DataFrame:
    """ClickHouse ``SAMPLE frac``: keep rows whose sample-key md5 bucket
    (first 8 hex chars = a uniform 32-bit integer — the engine-portable
    hashing contract the sampling operators share) falls under the
    fraction."""
    if frac is None:
        return df
    col = meta.get("sample_col")
    if not col:
        raise ValueError("table has no sample_col; declare it at create time")
    if not 0 < frac <= 1:
        raise ValueError("sample_frac must be in (0, 1]")
    bucket = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    return df.filter(bucket < F.lit(int(frac * 2**32)))


def _collapse(df: DataFrame, meta: dict) -> DataFrame:
    """Apply the engine's merge semantics to a part-tagged frame.

    The partition column (when declared) joins the collapse keys —
    ClickHouse's documented contract: *data in different partitions is
    never merged*, so a key's rows collapse per partition. This is also
    the pruning win: a partition-column filter now sits on the window/
    aggregate's own partitioning keys, so Catalyst pushes it below the
    collapse and the scan reads only the filtered part directories."""
    keys = list(meta["key_cols"])
    pcol = meta.get("partition_col")
    if pcol and pcol not in keys:
        keys = [pcol] + keys
    if meta["engine"] == "replacing":
        # one max_by hash aggregate, NOT a ranking window: a hash
        # aggregate partially combines map-side, so a key carrying many
        # superseded versions reduces to one candidate per task before
        # the shuffle — the window variant sorts every version through
        # the exchange. Ordering is VERSION-DOMINANT (ClickHouse
        # ReplacingMergeTree(ver): max version wins regardless of part
        # order, so out-of-order CDC can't regress state), with the part
        # sequence as the deterministic last-insert tie-break; the order
        # is total, so the struct argmax picks one whole row.
        ordc = F.struct(F.col(meta["version_col"]), F.col("_part_seq"))
        others = [c for c in df.columns if c not in keys]
        winner = df.groupBy(*keys).agg(
            F.max_by(F.struct(*[F.col(c) for c in others]), ordc).alias("_w")
        )
        return winner.select(
            *keys, *[F.col(f"_w.{c}").alias(c) for c in others]
        )
    if meta["engine"] == "collapsing":
        return _collapse_signs(df, meta)
    if meta["engine"] == "aggregating":
        spec = meta["agg_spec"]
        aggs = [_merge_agg(c, fn).alias(c) for c, fn in spec.items()]
        others = [
            c for c in df.columns if c not in keys and c not in spec and c != "_part_seq"
        ]
        aggs += [F.max_by(c, F.col("_part_seq")).alias(c) for c in others]
        return df.groupBy(*keys).agg(*aggs).withColumn("_part_seq", F.lit(0))
    # summing: sum the value columns, keep any single representative for the
    # rest (deterministic: there are no other non-key columns by contract)
    sums = [F.sum(c).alias(c) for c in meta["sum_cols"]]
    others = [
        c
        for c in df.columns
        if c not in keys and c not in meta["sum_cols"] and c != "_part_seq"
    ]
    aggs = sums + [F.max_by(c, F.col("_part_seq")).alias(c) for c in others]
    return df.groupBy(*keys).agg(*aggs).withColumn("_part_seq", F.lit(0))


def _collapse_signs(df: DataFrame, meta: dict) -> DataFrame:
    """VersionedCollapsing pair-cancellation, one groupBy per FINAL.

    Per (key, version): net = Σ sign. net == 0 → the (+1, -1) pair
    cancels; otherwise the unmatched side survives, represented by its
    newest-part row (``max_by`` over the part sequence — the ``when``
    makes the other sign's rows order-NULL, which max_by skips). Net sign
    is in {-1, 0, +1} under the well-formedness contract (one state + at
    most one cancel per (key, version)), so the collapse is associative:
    any prefix merge leaves a row later parts can still cancel."""
    keys, sign, ver = list(meta["key_cols"]), meta["sign_col"], meta["version_col"]
    pcol = meta.get("partition_col")
    if pcol and pcol not in keys:
        keys = [pcol] + keys  # partitions never merge (ClickHouse contract)
    plus_seq = F.when(F.col(sign) == 1, F.col("_part_seq"))
    minus_seq = F.when(F.col(sign) == -1, F.col("_part_seq"))
    others = [
        c for c in df.columns if c not in keys and c not in (ver, sign, "_part_seq")
    ]
    aggs = [F.sum(sign).alias("_net"), F.max(plus_seq).alias("_sp"), F.max(minus_seq).alias("_sm")]
    aggs += [F.max_by(c, plus_seq).alias(f"_p_{c}") for c in others]
    aggs += [F.max_by(c, minus_seq).alias(f"_m_{c}") for c in others]
    g = df.groupBy(*keys, ver).agg(*aggs).filter(F.col("_net") != 0)
    won = F.col("_net") > 0
    cols = [F.col(c) for c in keys] + [F.col(ver)]
    sign_type = df.schema[sign].dataType
    cols.append(F.when(won, F.lit(1)).otherwise(F.lit(-1)).cast(sign_type).alias(sign))
    cols += [
        F.when(won, F.col(f"_p_{c}")).otherwise(F.col(f"_m_{c}")).alias(c)
        for c in others
    ]
    cols.append(F.when(won, F.col("_sp")).otherwise(F.col("_sm")).alias("_part_seq"))
    return g.select(*cols)


def read_projection(
    spark: SparkSession,
    path: str,
    name: str,
    *,
    version: int | None = None,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Answer an aggregate query from a projection instead of the base
    rows — read cost ∝ Σ per-part state rows, not raw rows.

    Unions every live part's ``_proj_<name>`` states and merges them with
    the projection's own functions (sum/min/max are their own combiners).
    ``group_cols`` may be a SUBSET of the projection keys: states
    re-aggregate associatively to coarser keys, so one projection serves
    every rollup of its key set — the routing rule :func:`route_projection`
    implements."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    spec = (meta.get("projections") or {}).get(name)
    if spec is None:
        raise KeyError(f"no projection {name!r} on parts table {path}")
    keys = spec["key_cols"]
    if group_cols is not None and not set(group_cols) <= set(keys):
        raise ValueError(
            f"group_cols {list(group_cols)} not a subset of projection keys {keys}"
        )
    ver = current_version(path) if version is None else version
    if ver == 0:
        raise FileNotFoundError(f"parts table at {path} has no committed version")
    doc = _read_version(io, base, ver)
    if not doc["parts"]:
        raise FileNotFoundError(f"version {ver} of {path} is empty")
    legs = [
        spark.read.parquet(
            join(io, base, PARTS_DIR, p["name"], f"_proj_{name}")
        )
        for p in sorted(doc["parts"], key=lambda q: q["seq"])
    ]
    df = legs[0]
    for leg in legs[1:]:
        df = df.unionByName(leg)
    out_keys = list(group_cols) if group_cols is not None else list(keys)
    aggs = [_merge_agg(c, fn).alias(c) for c, fn in spec["agg_spec"].items()]
    return df.groupBy(*out_keys).agg(*aggs)


def route_projection(
    path: str, group_cols: Sequence[str], agg_cols: Sequence[str]
) -> str | None:
    """Pick the cheapest projection that can answer a
    ``GROUP BY group_cols`` over ``agg_cols`` — ClickHouse's automatic
    projection selection, surfaced as an explicit helper: a projection
    qualifies when its keys cover the grouping and its states carry every
    requested aggregate column; among qualifiers the fewest-keys one wins
    (fewest state rows to scan). Returns None when the base table must
    answer."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    best: str | None = None
    best_width = None
    for pname, spec in (meta.get("projections") or {}).items():
        if not set(group_cols) <= set(spec["key_cols"]):
            continue
        if not set(agg_cols) <= set(spec["agg_spec"]):
            continue
        width = len(spec["key_cols"])
        if best is None or width < best_width:
            best, best_width = pname, width
    return best


# ---------------------------------------------------------------------------
# optimize (physical merge)
# ---------------------------------------------------------------------------


def aggregate_states(
    df: DataFrame, key_cols: Sequence[str], agg_spec: dict[str, str]
) -> DataFrame:
    """Pre-aggregate raw rows into the partial-state rows an
    ``aggregating`` table stores — the ``-State`` half of ClickHouse's
    AggregateFunction pair (``_collapse`` is the ``-Merge`` half, and it
    applies the SAME functions: sum/min/max are their own combiners).
    Call this on every insert batch; counts ride as a ``sum`` column,
    averages as a (sum, count) pair finished at read time."""
    bad = {c: f for c, f in agg_spec.items() if f not in _AGG_FNS}
    if bad:
        raise ValueError(f"agg_spec functions must be one of {_AGG_FNS}, got {bad}")
    aggs = [_state_agg(c, fn).alias(c) for c, fn in agg_spec.items()]
    return df.groupBy(*key_cols).agg(*aggs)


def _worth_merging(merge: list[dict], meta: dict, as_of: float | None) -> bool:
    """Two or more inputs always merge; a lone part merges only when the
    rewrite changes it (a keyed collapse, or a TTL sweep)."""
    ttl_rewrite = as_of is not None and bool(meta.get("ttl_col"))
    return len(merge) >= 2 or (
        len(merge) == 1 and (meta["engine"] != "append" or ttl_rewrite)
    )


def _require_live(cur: dict, merge: list[dict]) -> None:
    """Both OPTIMIZEs' conflict rule: every merge input must still be live
    with an UNCHANGED skip list (no concurrent full or partition-scoped
    optimize)."""
    live = {_part_key(p) for p in cur["parts"]}
    if not all(_part_key(p) in live for p in merge):
        raise RuntimeError("concurrent optimize replaced the merge inputs; re-run")


def _merge_write(
    spark: SparkSession,
    io,
    base: str,
    meta: dict,
    legs: list[tuple[dict, set[str] | None]],
    as_of: float | None,
) -> str | None:
    """The merge body both OPTIMIZEs share: tagged union of the legs, TTL,
    engine collapse, one new part. Returns None when TTL expiry /
    pair-cancellation consumed every row — the merge result is NO part at
    all (ClickHouse drops fully-expired parts)."""
    df = _tagged_union(spark, io, base, meta, legs)
    if df is None:
        return None
    df = _apply_ttl(df, meta, as_of)
    if meta["engine"] != "append":
        df = _collapse(df, meta)
    df = df.drop("_part_seq")
    return None if df.isEmpty() else _write_part(df, io, base, meta)


def optimize_parts(
    spark: SparkSession,
    path: str,
    *,
    max_seq: int | None = None,
    as_of: float | None = None,
) -> dict:
    """Merge the live parts with ``seq <= max_seq`` (default: all) into one
    new part with the engine collapse applied — ClickHouse's background
    merge / ``OPTIMIZE TABLE``.

    Only a seq-contiguous PREFIX may merge: the survivors inherit the max
    input seq, so under the version-dominant replacing order a VERSION TIE
    between a merged survivor and an unmerged later insert still resolves
    to the later insert — partial merges never change the FINAL answer. When
    everything merges, the committed version is marked ``collapsed`` and
    FINAL reads become straight scans until the next insert. Old versions
    keep referencing the input parts — time travel across an OPTIMIZE
    works until vacuum.

    ``as_of`` (epoch seconds) additionally drops rows expired under the
    table's TTL — the merge-time TTL application ClickHouse performs; it
    is caller-supplied so maintenance stays deterministic and testable."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    ver, doc = _head(io, base)
    if ver == 0:
        return {"version": 0, "merged": 0}
    merge = [p for p in _by_seq(doc["parts"]) if max_seq is None or p["seq"] <= max_seq]
    if not _worth_merging(merge, meta, as_of):
        return {"version": ver, "merged": 0}
    part_name = _merge_write(spark, io, base, meta, [(p, None) for p in merge], as_of)
    merged = {p["name"] for p in merge}

    def build(cur: dict) -> dict:
        _require_live(cur, merge)
        untouched = [p for p in cur["parts"] if p["name"] not in merged]
        survivors = [{"name": part_name, "seq": max(p["seq"] for p in merge)}] if part_name else []
        return {
            "parts": _by_seq(survivors + untouched),
            # collapsed ONLY when this merge consumed EVERY live part: a
            # single remaining part is not enough — if the merged output
            # vanished (all rows cancelled/expired), the lone survivor is
            # an UNMERGED part and FINAL must still collapse it
            "collapsed": meta["engine"] != "append" and not untouched,
        }

    ver, _ = _commit(io, base, "optimize", build)
    return {"version": ver, "merged": len(merge), "part": part_name}


def optimize_partitions(
    spark: SparkSession,
    path: str,
    partition_values: Sequence,
    *,
    as_of: float | None = None,
) -> dict:
    """Partition-scoped OPTIMIZE — ClickHouse's actual merge unit
    (``OPTIMIZE TABLE t PARTITION p``; *data in different partitions is
    never merged*): collapse the named partitions across ALL live parts
    into one new part, leaving every other partition's data files
    untouched on disk.

    At 100 TB this is the only sane merge policy: a hot month with 40
    small parts merges in a partition-sized job while cold months' files
    stay byte-identical (no rewrite, no re-upload, object-store version
    history intact). Mechanically:

    - the merged partitions are read from each live part via its
      partition SUBDIRECTORIES (pure metadata pruning), collapsed with
      the engine semantics, and written as one new part carrying the max
      input sequence — the same merge body as :func:`optimize_parts`;
    - input parts are NOT rewritten — the version log records the merged
      values in their ``skip`` list, and every reader resolves a part as
      (directory minus skipped subdirectories); a part whose partitions
      are all skipped drops out of the version entirely, and its
      directory ages out with the retention window like any superseded
      part;
    - within the chosen partitions this is a FULL merge (all live parts
      participate), so the seq-contiguity rule is satisfied per
      partition by construction; the untouched partitions never see the
      new part (it physically contains none of their rows).

    ``as_of`` applies the table's TTL to the merged partitions (cold
    partitions keep their expired rows until their own merge — exactly
    ClickHouse's merge-time TTL).

    Tables with projections refuse: input parts keep their full-range
    projection states while losing base partitions, which would
    double-count through ``read_projection``."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    pcol = meta.get("partition_col")
    if not pcol:
        raise ValueError("optimize_partitions needs a table with partition_col")
    if meta.get("projections"):
        raise ValueError(
            "optimize_partitions is unsupported on tables with projections"
        )
    values = sorted({str(v) for v in partition_values})
    ver, doc = _head(io, base)
    if ver == 0 or not values:
        return {"version": ver, "merged": 0, "partitions": values}

    # which live parts physically hold any of the chosen partitions?
    present: dict[str, set[str]] = {}
    holds: dict[str, set[str]] = {}
    for p in doc["parts"]:
        present[p["name"]] = set(_partition_dirs(io, base, p["name"], pcol))
        hit = (present[p["name"]] - set(p.get("skip", []))) & set(values)
        if hit:
            holds[p["name"]] = hit
    merge = [p for p in _by_seq(doc["parts"]) if p["name"] in holds]
    if not _worth_merging(merge, meta, as_of):
        return {"version": ver, "merged": 0, "partitions": values}
    legs = [(p, holds[p["name"]]) for p in merge]
    part_name = _merge_write(spark, io, base, meta, legs, as_of)

    def build(cur: dict) -> dict:
        _require_live(cur, merge)
        new_parts = []
        for p in cur["parts"]:
            if p["name"] in holds:
                p = {**p, "skip": sorted({*p.get("skip", []), *holds[p["name"]]})}
                if set(p["skip"]) >= present[p["name"]]:
                    continue  # every partition merged away: drop the part
            new_parts.append(p)
        if part_name:
            new_parts.append({"name": part_name, "seq": max(p["seq"] for p in merge)})
        return {
            "partitions": values,
            "parts": _by_seq(new_parts),
            # a collapsed table stays collapsed (the merge introduces no
            # duplicate keys); an uncollapsed one stays uncollapsed (cold
            # partitions still carry superseded versions)
            "collapsed": bool(cur.get("collapsed", False)),
        }

    ver, _ = _commit(io, base, "optimize-partition", build)
    return {"version": ver, "merged": len(merge), "part": part_name, "partitions": values}


# ---------------------------------------------------------------------------
# vacuum
# ---------------------------------------------------------------------------


def vacuum_parts(
    path: str,
    *,
    keep_versions: int = 1,
    orphan_ttl_secs: float = 24 * 3600.0,
) -> dict:
    """Drop version files beyond the newest ``keep_versions`` and delete
    part directories no retained version references.

    Order is crash-safe: version files go first (a crash mid-vacuum can
    only leave unreferenced-but-present parts — re-run to finish), parts
    second. Orphan parts (written but never committed — crashed inserts)
    are deleted only when older than ``orphan_ttl_secs``: an in-flight
    insert's part is never swept. Time travel to a vacuumed version fails
    loudly with FileNotFoundError."""
    io, base = io_for(path)
    ids = _version_ids(io, base)
    keep = set(ids[-keep_versions:]) if keep_versions > 0 else set()
    referenced: set[str] = set()  # parts retained versions still need
    ever_referenced: set[str] = set()  # parts ANY version ever committed
    for n in ids:
        names = {p["name"] for p in _read_version(io, base, n)["parts"]}
        ever_referenced.update(names)
        if n in keep:
            referenced.update(names)

    dropped_versions = []
    for n in ids:
        if n not in keep:
            # deleting a version file is atomic at the namespace level on
            # both backends; readers of retained versions are unaffected
            io.delete(join(io, base, VERSIONS_DIR, f"v{n}.json"))
            dropped_versions.append(n)

    dropped_parts = []
    now = time.time()
    for name in io.list_names(join(io, base, PARTS_DIR)):
        if name in referenced:
            continue
        p = join(io, base, PARTS_DIR, name)
        committed_once = name in ever_referenced
        if not committed_once:
            # possible in-flight insert: apply the TTL guard
            try:
                if now - io.mtime(p) < orphan_ttl_secs:
                    continue
            except Exception:
                continue
        io.rmtree(p)
        dropped_parts.append(name)
    return {"dropped_versions": dropped_versions, "dropped_parts": sorted(dropped_parts)}


# ---------------------------------------------------------------------------
# cross-version diff
# ---------------------------------------------------------------------------


def parts_table_diff(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level diff between two retained versions of a keyed parts
    table (FINAL applied on both sides) — "what did this day's merges and
    inserts change?", answered with the same one-join classification as
    :func:`..operators.diff.table_diff`."""
    from ..operators.diff import table_diff

    io, base = io_for(path)
    meta = _load_meta(io, base)
    keys = meta["key_cols"]
    if not keys:
        raise ValueError("parts_table_diff needs a keyed engine (replacing/summing)")
    a = read_parts(spark, path, version=v_old, final=True)
    b = read_parts(spark, path, version=v_new, final=True)
    cols = list(compare_cols) if compare_cols else [c for c in a.columns if c not in keys]
    return table_diff(a, b, keys, cols)


# ---------------------------------------------------------------------------
# mutations (ALTER TABLE ... DELETE / UPDATE)
# ---------------------------------------------------------------------------


def mutate_parts(
    spark: SparkSession,
    path: str,
    *,
    delete_where: str | None = None,
    delete_ids: DataFrame | None = None,
    id_col: str | None = None,
    set_exprs: dict[str, str] | None = None,
    update_where: str | None = None,
) -> dict:
    """ClickHouse mutation: rewrite the LIVE parts applying a DELETE
    predicate and/or per-column UPDATE expressions, committing one new
    version — ``ALTER TABLE t DELETE WHERE ...`` / ``UPDATE c = expr
    WHERE ...`` re-expressed on the parts log.

    Mutation is PER PART: every live part is rewritten into a fresh
    directory carrying the SAME sequence number, so replacing/collapsing
    dominance and prefix-merge invariants are untouched; a part whose
    rows all fall to the delete disappears (ClickHouse drops fully-
    deleted parts). Pre-mutation versions still time-travel until
    vacuum. Projections are recomputed per rewritten part — the mutated
    data and its projection states stay atomic, as at insert.

    ``delete_ids`` (+ ``id_col``) is the set-sized form of DELETE — a
    takedown table of ids anti-joined against every part (broadcast when
    small, shuffle otherwise), for GDPR lists too large to inline in a
    predicate string.

    Cost model (the honest ClickHouse one): a mutation rewrites every
    live part once — O(table), a maintenance-window operation, NOT a
    hot-path upsert (that is what the collapsing/replacing engines are
    for). Deletes that align with the partition column should prefer
    partition-pruned rewrites; this general form exists for the
    GDPR-style 'delete these keys wherever they are' ask."""
    if (delete_ids is None) != (id_col is None):
        raise ValueError("delete_ids and id_col must be passed together")
    io, base = io_for(path)
    meta = _load_meta(io, base)
    if set_exprs:
        protected = set(meta["key_cols"]) | {
            meta.get("version_col"),
            meta.get("sign_col"),
            meta.get("partition_col"),
            meta.get("ttl_col"),
            meta.get("sample_col"),
        }
        bad = sorted(set(set_exprs) & protected)
        if bad:
            # updating identity/ordering columns would silently break the
            # engine's collapse invariants (ClickHouse rejects these too)
            raise ValueError(f"cannot UPDATE key/identity columns: {bad}")
    ver, doc = _head(io, base)
    if ver == 0:
        return {"version": 0, "rewritten": 0, "dropped_parts": 0}
    parts = _by_seq(doc["parts"])

    new_parts = []
    pcol = meta.get("partition_col")
    pcol_type = _partition_type(io, base, pcol)
    for p in parts:
        out = _read_part_df(spark, io, base, p, pcol, pcol_type)
        if out is None:
            continue
        if delete_where:
            out = out.filter(f"NOT ({delete_where})")
        if delete_ids is not None:
            out = out.join(
                delete_ids.select(F.col(id_col)).distinct(), id_col, "left_anti"
            )
        if set_exprs:
            cond = update_where or "true"
            for col, expr in set_exprs.items():
                out = out.withColumn(
                    col,
                    F.when(F.expr(cond), F.expr(expr)).otherwise(F.col(col)),
                )
        if not out.isEmpty():
            new_parts.append({"name": _write_part(out, io, base, meta), "seq": p["seq"]})

    def build(cur: dict) -> dict:
        if {_part_key(p) for p in cur["parts"]} != {_part_key(p) for p in parts}:
            raise RuntimeError(
                "concurrent commit changed the live parts during the "
                "mutation; re-run against the new version"
            )
        return {
            "parts": _by_seq(new_parts),
            # deletes/updates cannot introduce duplicate keys (identity
            # columns are update-protected), so collapsed-ness survives
            "collapsed": bool(cur.get("collapsed", False)),
        }

    ver, _ = _commit(io, base, "mutate", build)
    return {
        "version": ver,
        "rewritten": len(new_parts),
        "dropped_parts": len(parts) - len(new_parts),
    }


# ---------------------------------------------------------------------------
# introspection + maintenance policy
# ---------------------------------------------------------------------------


def parts_stats(path: str, *, version: int | None = None) -> list[dict]:
    """``system.parts`` analogue: one dict per live part with its commit
    sequence, byte size and file count — the signals a merge policy
    reads. Pure metadata (local walk / one getContentSummary RPC per
    part); never a data scan."""
    io, base = io_for(path)
    meta = _load_meta(io, base)  # fail loudly and clearly on a missing table
    ver = current_version(path) if version is None else version
    if ver == 0:
        return []
    doc = _read_version(io, base, ver)
    out = []
    for p in _by_seq(doc["parts"]):
        skip = sorted(p.get("skip", []))
        if skip:
            # only the LIVE partition subdirectories count toward the
            # merge policy — the skipped ones were merged elsewhere
            dirs = _partition_dirs(io, base, p["name"], meta["partition_col"])
            sizes = [io.du(d) for v, d in dirs.items() if v not in skip]
            nbytes, nfiles = sum(s[0] for s in sizes), sum(s[1] for s in sizes)
        else:
            nbytes, nfiles = io.du(join(io, base, PARTS_DIR, p["name"]))
        row = {"name": p["name"], "seq": p["seq"], "bytes": nbytes, "files": nfiles}
        if skip:
            row["skip"] = skip
        out.append(row)
    return out


def partition_stats(path: str, *, version: int | None = None) -> list[dict]:
    """``system.parts`` grouped by partition: for each partition value,
    how many live parts hold it and their total bytes/files — the
    signals the per-partition merge policy reads. Pure metadata (one
    directory listing + one du per live (part, partition) pair)."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    pcol = meta.get("partition_col")
    if not pcol:
        raise ValueError("partition_stats needs a table with partition_col")
    ver = current_version(path) if version is None else version
    if ver == 0:
        return []
    doc = _read_version(io, base, ver)
    acc: dict[str, dict] = {}
    for p in doc["parts"]:
        skip = set(p.get("skip", []))
        for v, d in _partition_dirs(io, base, p["name"], pcol).items():
            if v in skip:
                continue
            nbytes, nfiles = io.du(d)
            row = acc.setdefault(
                v, {"partition": v, "n_parts": 0, "bytes": 0, "files": 0}
            )
            row["n_parts"] += 1
            row["bytes"] += nbytes
            row["files"] += nfiles
    return [acc[v] for v in sorted(acc)]


def maintain_parts(
    spark: SparkSession,
    path: str,
    *,
    max_parts: int = 8,
    keep_versions: int = 2,
    as_of: float | None = None,
    orphan_ttl_secs: float = 24 * 3600.0,
) -> dict:
    """The background-merge policy loop a streaming sink calls between
    batches: OPTIMIZE when the part count exceeds ``max_parts``, then
    VACUUM beyond ``keep_versions``. ``as_of`` applies TTL at the merge,
    so a periodic maintain is also the expiry sweep. Safe to call at any
    cadence — a table under the threshold is a metadata-only no-op.

    Merge unit (the ClickHouse one): a PARTITIONED table merges per
    partition — only partitions whose own live-part count exceeds
    ``max_parts`` rewrite, and cold partitions' data files stay
    byte-identical (``optimize_partitions``). A TTL sweep (``as_of``)
    is ALSO partition-pruned (r9): a column-pruned probe of
    (partition_col, ttl_col) finds the partitions that actually hold
    expired rows, and only those (plus the part-count-hot ones) merge —
    a clean cold month is never rewritten by an expiry sweep, matching
    ClickHouse's merge-time TTL (parts with no expired rows are left
    alone). Unpartitioned and projected tables keep the full prefix
    merge."""
    io, base = io_for(path)
    meta = _load_meta(io, base)
    pcol = meta.get("partition_col")
    n_parts = len(parts_stats(path))
    res: dict = {"parts_before": n_parts, "optimized": False}
    ttl_sweep = as_of is not None and bool(meta.get("ttl_col"))
    if pcol and not meta.get("projections"):
        hot = {
            p["partition"]
            for p in partition_stats(path)
            if p["n_parts"] > max_parts
        }
        if ttl_sweep and n_parts > 0:
            # column-pruned scan of two columns over live parts; the
            # bare column-vs-literal predicate is pushdown-eligible, so
            # parquet row-group stats carry the expiry filter and clean
            # partitions cost footer reads, not data
            expired = read_parts(spark, path).filter(
                F.col(meta["ttl_col"]) <= F.lit(as_of - meta["ttl_seconds"])
            ).select(pcol).distinct().collect()
            hot |= {str(r[0]) for r in expired}
        if hot:
            opt = optimize_partitions(spark, path, sorted(hot), as_of=as_of)
            res["optimized"] = opt.get("merged", 0) > 0
            res["optimize"] = opt
    elif n_parts > max_parts or (as_of is not None and n_parts > 0):
        opt = optimize_parts(spark, path, as_of=as_of)
        # merged > 0 is the only signal a merge actually committed; the
        # no-op early returns carry merged=0 and no 'part' key (a vanished
        # output — all rows expired/cancelled — still has merged > 0)
        res["optimized"] = opt.get("merged", 0) > 0
        res["optimize"] = opt
    vac = vacuum_parts(path, keep_versions=keep_versions, orphan_ttl_secs=orphan_ttl_secs)
    res["vacuum"] = {
        "dropped_versions": len(vac["dropped_versions"]),
        "dropped_parts": len(vac["dropped_parts"]),
    }
    return res

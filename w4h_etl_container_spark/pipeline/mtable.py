"""Manifest table ("mtable") — minimal copy-on-write table format for
mutable datasets: MERGE (upsert) that rewrites ONLY the data files
containing matched keys, snapshot-isolated readers, time travel, and
vacuum. The lakehouse mechanics (Delta/Iceberg's core loop) rendered
in a few hundred lines on plain parquet + a JSON manifest, because the
engine's 100 TB story needs a mutation path that does not rewrite the
table:

* a TABLE is a directory of immutable parquet data files plus
  ``_manifests/v{N}.json`` listing the files of version N and
  ``_latest`` naming the current version (written via atomic rename,
  so a reader resolves one consistent file list — snapshot isolation
  for free on a POSIX dir; on object stores the pointer write is the
  usual single-key atomic PUT);
* MERGE = per-file key-range pruning intersected with the update
  batch's key set → read only matched files → anti-join out old rows
  → union the update batch → write new files → publish manifest N+1
  re-listing untouched files verbatim. Untouched bytes are never
  read, never rewritten. Merge keys may be COMPOSITE
  (``key=["orderkey", "linenumber"]``): pruning applies each key
  column's range as a conjunction (a file is skipped only when NO
  batch key tuple can fall inside its per-column bounding box), and
  the anti-join/refusal/groupBy all run on the full key tuple;
* per-file column ranges are PERSISTED IN THE MANIFEST at commit time
  (``file_stats`` — the Delta/Iceberg per-file stats move), so merge
  planning never re-reads data-file footers for files already under
  management: the driver cost of planning is O(new files) footer
  reads per commit, not O(table files). Files without persisted stats
  (legacy manifests, hand-spliced files) fall back to a one-time
  footer read whose result is persisted by the next commit
  (self-healing);
* the batch↔file intersection is COUNT-GATED: a bounded key set
  (≤ ``max_collect_keys`` distinct keys) collects to the driver for
  exact per-file membership pruning (sorted tuples + leading-column
  bisect — O(files · log keys), never O(files · keys)); anything
  wider NEVER collects — matched files come from joining the
  footer-range table (one tiny row per file, broadcast) against the
  distinct-key DataFrame, and the driver only ever holds the matched
  FILE list. Key volume never bounds driver memory. NULL key values
  are refused up front on both paths (a NULL never equi-matches, so a
  NULL-keyed upsert row is a contradiction, not a merge);
* old versions stay readable (time travel) until ``vacuum`` deletes
  files unreferenced by any retained manifest;
* commits are manifest COMPARE-AND-SWAP'd: version N+1 is claimed by
  atomic exclusive file creation (``os.link`` of a fully-written
  temp), so two interleaved writers racing the same parent produce
  exactly one winner and one loud ``ConcurrentWriteError`` — never a
  silently lost update. ``retries=N`` turns the loser into the
  standard optimistic-concurrency loop (Delta's commit protocol):
  re-read the new snapshot, replan matched files, re-attempt with
  bounded backoff — both writers commit, serialized. Callers holding
  a planning snapshot can instead pin ``expected_version`` to fail
  fast on a stale plan (pinning and auto-retry are mutually
  exclusive by construction);
* a writer crash BETWEEN the manifest link and the pointer flip
  leaves an orphan manifest above the pointer; readers never see it,
  vacuum never anchors on it, and every subsequent writer's CAS
  collides with it — ``mtable_repair`` reclaims the debris (run it
  under the cooperative writer lock; the error message names it).

* DELETE **and MERGE** ship both lakehouse strategies: copy-on-write
  (rewrite the matched files) and MERGE-ON-READ (``mode='mor'`` — the
  Delta deletion-vector / Iceberg v2 positional pattern): the doomed
  (or replaced) rows' (file basename, row index) pairs land in one tiny DV parquet,
  the manifest maps each shadowed data file to its DV files, and every
  reader anti-joins the shadow out via the parquet reader's hidden
  ``_metadata`` column. A 1-row delete writes O(1 row), never a file;
  ``mtable_compact`` materializes the shadow and clears the DVs;
  vacuum reclaims DV files with the same referenced-set rule as data
  files.

* opt-in per-file KEY BLOOM FILTERS (``mtable_create(bloom_keys=...)``
  — the Delta bloom-filter-index move): every committing writer hashes
  its new files' key tuples into bitset sidecars (``bloom-*/``
  parquet, mapped from the manifest), and bounded-key planning skips
  range-matched files the bloom refutes — point lookups stay pruned
  even where unclustered churn has every file spanning the whole key
  domain. Commit cost grows from O(new footers) to O(new rows) (one
  read-back hash scan), which is why it is opt-in.

Surface: ``mtable_create`` (optional ``bloom_keys``) / ``mtable_read`` (versioned, or
``as_of`` a timestamp) / ``mtable_merge`` (keyed upsert, optional
schema evolution, cow | mor) / ``mtable_delete`` (cow | mor) / ``mtable_merge_agg``
(incremental aggregate maintenance — the materialized-view refresh;
sum/max/min plus the mergeable 'kmv' distinct sketch) /
``mtable_changes`` (row-level change feed from the file diff) /
``mtable_compact`` (compaction — optionally RECLUSTERING — as a
version) / ``mtable_restore`` (rollback as a commit) /
``mtable_history`` / ``mtable_vacuum`` (with dry run) /
``mtable_repair`` / ``mtable_sink`` (exactly-once foreachBatch
append / keyed merge / replay-safe additive combine). Keys may be numeric or string, single or
composite (footer stats decode; a file with ANY stats-less row
group, or missing a key column entirely, reports an unbounded range
for that column and is conservatively matched — unprunable files are
read, never skipped). Model-checked against a dict reference and
crash-tested: orphan DATA generations are reader-invisible and
vacuumed; an orphan MANIFEST above the ``_latest`` pointer never
anchors vacuum retention — the retention window is pinned to the
pointer, so the live version can never be vacuumed out from under
its own pointer.

Coordination: the state-store lock (``pipeline/state.py``) remains
the cooperative layer; the manifest CAS turns its correctness from an
assumption into a checked invariant. ``mtable_vacuum`` and
``mtable_repair`` mutate shared state non-transactionally and must
run under that lock whenever writers may be live. No reference
analog; extension mandated by BASELINE.json's operational surface.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import uuid
from bisect import bisect_left, bisect_right

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifests"
_LATEST = "_latest"

#: Above this many distinct batch keys, merge/delete/merge_agg switch
#: from driver-side exact key collection to the join-based file-match
#: path (driver memory bounded by FILE count, never key count).
DEFAULT_MAX_COLLECT_KEYS = 100_000

#: Per-file column stats persisted in the manifest cover at most this
#: many leading parquet leaf columns (Delta's dataSkippingNumIndexedCols
#: default); columns beyond it fall back to footer reads when used as
#: merge keys.
MAX_STATS_COLS = 32

#: String stats longer than this are not persisted (a truncated max is
#: NOT an upper bound — rather than implement truncate-and-increment,
#: long-string columns are simply unprunable).
_MAX_STAT_STR = 64

#: Key sets at or under this size that the planner has ALREADY collected
#: to the driver (the count-gated 'collect' path) are rebuilt as a
#: LocalRelation for downstream consumers: a BroadcastExchange over a
#: local table collects driver-side (zero Spark jobs per semi/anti
#: build) and the optimizer folds projections over it (the bloom probe
#: becomes job-free too). Above it the persisted distributed key frame
#: is kept — re-pickling a very large key set through py4j would cost
#: more driver time than the broadcast-build job it saves. The bytes
#: under the cap already crossed to the driver once (the planner's
#: bisect needs them), so this adds no new driver-memory exposure.
_LOCAL_KDF_MAX = 20_000


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer planned to
    publish (manifest CAS lost) or moved the table past the snapshot
    this writer planned against (``expected_version`` stale)."""


def _ctl_session(spark: SparkSession) -> SparkSession:
    """The CONTROL-PLANE companion session: same SparkContext, same
    shared state (cached relations live in the SharedState CacheManager
    and are visible from every session), own SQLConf with adaptive
    execution off. Created once per engine session, reused for every
    commit-path bounded collect — no session-wide conf ever flips, so a
    concurrent tenant's data-plane query can never be planned without
    AQE by accident."""
    ctl = getattr(spark, "_mt_ctl_session", None)
    if ctl is None:
        ctl = spark.newSession()
        ctl.conf.set("spark.sql.adaptive.enabled", "false")
        # the two dynamic confs read paths depend on (everything else
        # rides the SparkContext conf the new session inherits)
        ctl.conf.set("spark.sql.session.timeZone", "UTC")
        ctl.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark._mt_ctl_session = ctl  # type: ignore[attr-defined]
    return ctl


def _plan_no_aqe(df: DataFrame) -> DataFrame:
    """Re-host a CONTROL-PLANE query on the no-AQE companion session and
    return it ready to collect (r17 — the commit path's
    driver-round-trip floor).

    The commit path's validation/planning queries are bounded-output by
    construction: global aggregates (one row), count-gated key frames
    (≤ ``max_collect_keys`` rows), per-file counts (≤ matched-file
    rows). AQE cannot improve such a plan at ANY data scale — there is
    no join strategy left to revise (build sides are already explicit
    ``broadcast()`` hints), no skew to split (a global aggregate's
    exchange moves one partial row per map task), and nothing worth
    coalescing — but its stage-by-stage materialization turns a 1-job
    2-stage aggregate into 3-4 sequential driver round-trips, measured
    at ~80 ms each on this harness: at commit frequency AQE is pure
    scheduling overhead on these queries. Data-plane queries (reads,
    rewrites, the streaming sink's batches) keep AQE — this helper is
    only for bounded collects the engine itself constructs.

    Mechanics: the analyzed logical plan is lifted onto the companion
    session (``Dataset.ofRows`` — same SparkContext, shared
    CacheManager, so persisted inputs are served from cache, never
    recomputed), where planning runs under that session's PRIVATE
    adaptive-off conf. No shared conf mutates, so this is safe under
    arbitrary concurrency. Any reflection failure falls back to the
    original frame — AQE on, correct either way."""
    spark = df.sparkSession
    try:
        ctl = _ctl_session(spark)
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            ctl._jsparkSession, df._jdf.queryExecution().logical()
        )
        return DataFrame(jdf, ctl)
    except Exception:
        return df


# LocalRelation helpers (r18): shared with operators/components.py —
# the commit path and the driver union-find hand already-collected
# bounded row sets back as true LocalRelations (see operators/localrel)
from w4h_etl_container_spark.operators.localrel import local_df as _local_df  # noqa: E402


def _persist_no_aqe(df: DataFrame) -> DataFrame:
    """``persist()`` twin of ``_plan_no_aqe``: the cache-materialization
    plan is built at REGISTRATION time under the registering session's
    conf, so a bounded control-plane frame registered through the
    companion session materializes as ONE job instead of an AQE stage
    cascade. The cache entry lives in the shared CacheManager; the
    parent-session handle (returned) attaches to the same entry (its
    own ``persist()`` is a no-op re-registration) and a later
    ``unpersist()`` on it clears the entry normally."""
    try:
        _plan_no_aqe(df).persist()
    except Exception:
        pass
    return df.persist()


def _as_keys(key: str | list[str] | tuple[str, ...]) -> list[str]:
    """Normalize the key spec: a single column name or a composite key
    column list. Order matters — the FIRST column drives bisect range
    pruning on the collect path, so list the highest-selectivity /
    clustering column first (the same advice as Iceberg sort orders)."""
    keys = [key] if isinstance(key, str) else list(key)
    if not keys or len(set(keys)) != len(keys):
        raise ValueError(f"mtable: invalid key spec {key!r}")
    return keys


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"v{version}.json")


# ---------------------------------------------------------------------------
# Segmented manifests (round 14 — the Iceberg manifest-list move).
#
# A version's per-file payload (file list + per-file column ranges +
# bloom sidecar refs) no longer lives inline in v{N}.json: it is split
# across immutable SEGMENT files (``_manifests/seg-*.json``), and the
# version descriptor carries only segment REFERENCES plus per-segment
# removal tombstones. A commit therefore writes O(churn) bytes — new
# files pack into a fresh segment, untouched parent segments are
# re-referenced by name, and a removal is one tombstone entry — where
# the inline format rewrote the full O(table-files) JSON every commit
# (at 100 TB / ~10⁵ files that is tens of MB of driver JSON per
# trickle upsert, the largest structural driver cost the r13 audit
# found). Reads resolve descriptors through a process-level segment
# cache (segments are immutable, so caching is sound): after warm-up,
# opening a new version parses only the segments that commit actually
# churned.
#
# Invariants:
# * segments PARTITION the live file list (each live file appears in
#   exactly one referenced segment, net of its tombstones);
# * a segment whose dead fraction exceeds ``_SEG_DEAD_RATIO`` — or any
#   of whose surviving entries' stats/bloom were self-healed — is
#   rewritten filtered (amortized O(churn));
# * descriptors reference at most ~``_SEG_MAX_COUNT`` segments: past
#   that the smallest ones consolidate into one (keeps resolve cost
#   and descriptor size bounded as history accumulates tiny commits);
# * CAS/crash semantics are unchanged: segments are written BEFORE the
#   descriptor link (a losing/crashed writer leaves unreferenced
#   seg-*.json debris that vacuum sweeps by the same referenced-set
#   rule as data files);
# * legacy inline manifests (with a ``files`` key) still read, and the
#   first commit on top of one segments the full list once.
# ---------------------------------------------------------------------------

#: New files pack into fresh segments of at most this many entries.
_SEG_TARGET = 1024
#: Rewrite (filter) a reused segment when more than this fraction of
#: its original entries are dead tombstones.
_SEG_DEAD_RATIO = 0.5
#: Consolidate the smallest segments once a descriptor would reference
#: more than this many.
_SEG_MAX_COUNT = 64
#: Process-level cache of parsed segments (immutable ⇒ sound), FIFO-
#: bounded so a long-lived driver touching many tables stays bounded.
_SEG_CACHE: dict[str, dict] = {}
_SEG_CACHE_MAX = 512

#: Keys _write_manifest owns — stripped from caller meta so a re-stamp
#: that round-trips a materialized manifest can never smuggle a stale
#: file list past the freshly computed segment layout.
_RESERVED_MAN_KEYS = frozenset(
    ("version", "files", "file_stats", "bloom", "bloom_cfg",
     "segments", "segment_removed", "n_files")
)


def _seg_path(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, name)


def _load_segment(table_dir: str, name: str) -> dict:
    p = os.path.abspath(_seg_path(table_dir, name))
    seg = _SEG_CACHE.get(p)
    if seg is None:
        with open(p) as f:
            seg = json.load(f)
        if len(_SEG_CACHE) >= _SEG_CACHE_MAX:
            _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
        _SEG_CACHE[p] = seg
    return seg


def _write_segment(
    table_dir: str, files: list[str], stats: dict, bloom: dict
) -> str:
    """Write one immutable segment (unique name, atomic rename) and
    return its name. ``stats``/``bloom`` hold ONLY entries for
    ``files`` that actually have a value — absence is meaningful
    (legacy no-stats files plan via footer fallback)."""
    name = f"seg-{uuid.uuid4().hex}.json"
    seg: dict = {"files": sorted(files)}
    if stats:
        seg["file_stats"] = stats
    if bloom:
        seg["bloom_files"] = bloom
    path = _seg_path(table_dir, name)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(seg, f, sort_keys=True, separators=(",", ":"))
    os.rename(tmp, path)
    return name


def _slice_merged(files: list[str], new: dict, old: dict) -> dict:
    """Per-file values for ``files``: the caller-provided value wins
    (it may be a self-healed stat), the segment's stored value backs
    it, files with neither stay absent."""
    out = {}
    for f in files:
        if f in new:
            out[f] = new[f]
        elif f in old:
            out[f] = old[f]
    return out


def _segment_layout(
    table_dir: str,
    version: int,
    files: list[str],
    file_stats: dict,
    bloom_files: dict,
    overwrite: bool,
) -> tuple[list[str], dict]:
    """Compute (segments, segment_removed) for a new descriptor by
    diffing against the base descriptor — the same version on a
    re-stamp, else version-1 (history is linear). Unchanged parent
    segments are re-referenced; removals tombstone (or trigger a
    filtered rewrite past the dead-ratio); added files pack fresh."""
    fileset = set(files)
    base = None
    base_version = version if overwrite else version - 1
    if base_version >= 0:
        try:
            with open(_manifest_path(table_dir, base_version)) as f:
                base = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            base = None
    segments: list[str] = []
    seg_removed: dict[str, list[str]] = {}
    covered: set[str] = set()
    base_rem = (base or {}).get("segment_removed", {})
    for name in (base or {}).get("segments", []):
        seg = _load_segment(table_dir, name)
        tomb = set(base_rem.get(name, ()))
        live = [f for f in seg["files"] if f not in tomb]
        surviving = [f for f in live if f in fileset and f not in covered]
        if not surviving:
            continue  # fully dead: drop the reference
        sstats = seg.get("file_stats", {})
        sbloom = seg.get("bloom_files", {})
        healed = any(
            (f in file_stats and file_stats[f] != sstats.get(f))
            or (f in bloom_files and bloom_files[f] != sbloom.get(f))
            for f in surviving
        )
        dead = tomb | {f for f in live if f not in fileset}
        if healed or len(dead) > _SEG_DEAD_RATIO * len(seg["files"]):
            segments.append(
                _write_segment(
                    table_dir,
                    surviving,
                    _slice_merged(surviving, file_stats, sstats),
                    _slice_merged(surviving, bloom_files, sbloom),
                )
            )
        else:
            segments.append(name)
            if dead:
                seg_removed[name] = sorted(dead)
        covered.update(surviving)
    added = [f for f in files if f not in covered]
    for i in range(0, len(added), _SEG_TARGET):
        chunk = added[i : i + _SEG_TARGET]
        segments.append(
            _write_segment(
                table_dir,
                chunk,
                {f: file_stats[f] for f in chunk if f in file_stats},
                {f: bloom_files[f] for f in chunk if f in bloom_files},
            )
        )
    if len(segments) > _SEG_MAX_COUNT:
        segments, seg_removed = _consolidate_segments(
            table_dir, segments, seg_removed
        )
    return segments, seg_removed


def _consolidate_segments(
    table_dir: str, segments: list[str], seg_removed: dict
) -> tuple[list[str], dict]:
    """Merge the smallest segments into one so descriptors stay under
    ``_SEG_MAX_COUNT`` references — the cost is O(entries merged), and
    picking the smallest keeps that amortized against the tiny-commit
    stream that caused the growth."""
    sized = []
    for name in segments:
        seg = _load_segment(table_dir, name)
        tomb = set(seg_removed.get(name, ()))
        live = [f for f in seg["files"] if f not in tomb]
        sized.append((len(live), name, live, seg))
    sized.sort(key=lambda t: (t[0], t[1]))
    k = len(segments) - _SEG_MAX_COUNT + 1
    merged, kept = sized[:k], sized[k:]
    files: list[str] = []
    stats: dict = {}
    bloom: dict = {}
    for _, _, live, seg in merged:
        files.extend(live)
        ss = seg.get("file_stats", {})
        sb = seg.get("bloom_files", {})
        for f in live:
            if f in ss:
                stats[f] = ss[f]
            if f in sb:
                bloom[f] = sb[f]
    new_name = _write_segment(table_dir, files, stats, bloom)
    out = [name for _, name, _, _ in kept] + [new_name]
    out_removed = {
        name: seg_removed[name]
        for _, name, _, _ in kept
        if name in seg_removed
    }
    return out, out_removed


def _materialize(table_dir: str, man: dict) -> dict:
    """Resolve a segmented descriptor into the legacy in-memory shape
    every consumer reads (``files`` / ``file_stats`` / ``bloom``).
    Inline legacy manifests pass through untouched. Segment parses hit
    the immutable-segment cache, so a warm driver pays O(churned
    segments) JSON parse per new version, not O(table files)."""
    if "segments" not in man:
        return man
    removed = man.get("segment_removed", {})
    files: list[str] = []
    stats: dict = {}
    bloomf: dict = {}
    for name in man["segments"]:
        seg = _load_segment(table_dir, name)
        tomb = set(removed.get(name, ()))
        sstats = seg.get("file_stats", {})
        sbloom = seg.get("bloom_files", {})
        for f in seg["files"]:
            if f in tomb:
                continue
            files.append(f)
            if f in sstats:
                stats[f] = sstats[f]
            if f in sbloom:
                bloomf[f] = sbloom[f]
    man["files"] = sorted(files)
    if stats:
        man["file_stats"] = stats
    if "bloom_cfg" in man:
        man["bloom"] = {**man.pop("bloom_cfg"), "files": bloomf}
    return man


def _write_manifest(
    table_dir: str,
    version: int,
    files: list[str],
    meta: dict,
    file_stats: dict | None = None,
    dv: dict | None = None,
    bloom: dict | None = None,
    overwrite: bool = False,
) -> None:
    """Publish manifest ``version`` then flip the ``_latest`` pointer.

    The manifest is fully written to a temp file first, then claimed
    under its final name with ``os.link`` — an atomic EXCLUSIVE create
    on POSIX — so a second writer racing the same version number gets
    ``ConcurrentWriteError`` instead of silently clobbering the
    winner's commit (compare-and-swap on the version slot). A crash
    after the link but before the pointer rename leaves an orphan
    manifest ABOVE the pointer; readers never see it (they resolve the
    pointer), vacuum drops it without anchoring retention on it, and
    ``mtable_repair`` reclaims it so later writers stop colliding.

    ``file_stats`` maps file → {column: [min, max] | None} (None =
    column present but unprunable); persisted so planning never
    re-reads managed files' footers.

    ``dv`` maps data file → [deletion-vector file, ...] (merge-on-read
    deletes); only non-empty entries are persisted, and a version with
    no shadowed files omits the key entirely so pre-DV readers of the
    manifest JSON see the exact old shape.

    ``overwrite=True`` is the self-annotation escape hatch (the
    streaming sink re-stamping its OWN just-committed version with
    epoch lineage) — never used to publish new content.

    Round 14: the per-file payload writes as SEGMENTS (see the
    segmented-manifest block above) — the descriptor published here
    carries segment references + tombstones, so commit bytes are
    O(churn), and the CAS/pointer protocol below is unchanged
    (segments land before the descriptor link; a loser's segments are
    unreferenced debris for vacuum)."""
    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    bloom_cfg = None
    bloom_files: dict = {}
    if bloom:
        bloom_cfg = {k: v for k, v in bloom.items() if k != "files"}
        bloom_files = bloom.get("files") or {}
    segments, seg_removed = _segment_layout(
        table_dir,
        version,
        sorted(files),
        file_stats or {},
        bloom_files,
        overwrite,
    )
    man = {
        "version": version,
        "n_files": len(files),
        "segments": segments,
        # floored to the ms, never rounded UP: an as_of reader asking
        # for "now" must always see a commit that finished before now
        "committed_at": int(time.time() * 1000) / 1000.0,
        **{k: v for k, v in meta.items() if k not in _RESERVED_MAN_KEYS},
    }
    if seg_removed:
        man["segment_removed"] = seg_removed
    if dv:
        man["dv"] = {f: sorted(v) for f, v in sorted(dv.items()) if v}
    if bloom_cfg is not None:
        man["bloom_cfg"] = bloom_cfg
    path = _manifest_path(table_dir, version)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    if overwrite:
        os.rename(tmp, path)
    else:
        try:
            os.link(tmp, path)
        except FileExistsError:
            os.remove(tmp)
            try:
                ptr = _current_version(table_dir)
            except FileNotFoundError:
                ptr = None
            if ptr is not None and version > ptr:
                raise ConcurrentWriteError(
                    f"mtable at {table_dir}: version {version} exists but the "
                    f"table pointer is at v{ptr} — either another writer is "
                    "mid-commit (retry after it flips the pointer) or a "
                    "writer crashed between manifest link and pointer flip, "
                    "leaving orphan crash debris that wedges every CAS at "
                    "this slot; run mtable_repair(table_dir) under the "
                    "cooperative writer lock to reclaim it"
                ) from None
            raise ConcurrentWriteError(
                f"mtable at {table_dir}: version {version} was already "
                "committed by another writer (manifest CAS lost); replan "
                "from the current snapshot and retry (or pass retries=N "
                "to let the merge replan automatically)"
            ) from None
        os.remove(tmp)
    _flip_pointer(table_dir, version)


def _flip_pointer(table_dir: str, version: int) -> None:
    """Advance the ``_latest`` pointer MONOTONICALLY, under a file
    lock. The pointer flip is the commit: readers that resolved the
    old pointer keep a consistent old file list (those files still
    exist).

    Monotonic is DEFENSE-IN-DEPTH (round 15): the read-via-pointer
    protocol already orders flips on the happy path (a committer of
    v+1 can only have planned against v, which it can only have seen
    after v's flip landed), but that invariant rests on every current
    and future caller reading snapshots through the pointer — one
    code path that plans against an explicitly-numbered version and
    publishes could reorder flips, and an unconditional rename would
    then REGRESS the pointer, silently orphaning every later commit's
    lineage. Under the lock the flip only ever moves forward; a
    committer that arrives behind an already-advanced pointer skips
    its flip — whoever committed past it necessarily built on its
    published manifest (version slots are claimed by exclusive link
    BEFORE any flip), so its content is already in the live
    lineage."""
    import fcntl

    with open(os.path.join(table_dir, ".ptr-lock"), "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            cur = _current_version(table_dir)
        except FileNotFoundError:
            cur = -1
        if version <= cur:
            return
        ptr_tmp = os.path.join(table_dir, f".{_LATEST}.tmp-{uuid.uuid4().hex}")
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.rename(ptr_tmp, os.path.join(table_dir, _LATEST))


def _current_version(table_dir: str) -> int:
    with open(os.path.join(table_dir, _LATEST)) as f:
        return int(f.read().strip())


def read_manifest(table_dir: str, version: int | None = None) -> dict:
    """One version's manifest, materialized to the legacy in-memory
    shape (``files``/``file_stats``/``bloom``) whatever the on-disk
    format — segmented descriptors resolve through the segment cache,
    inline legacy manifests pass straight through."""
    if version is None:
        version = _current_version(table_dir)
    with open(_manifest_path(table_dir, version)) as f:
        return _materialize(table_dir, json.load(f))


def mtable_history(table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY: every retained committed version's metadata
    (op, parent, commit time, rewrite counts — everything but the file
    list and stats), newest first. Orphan manifests above the pointer
    are crash debris and excluded."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    current = _current_version(table_dir)
    out = []
    # numeric sort, not filename sort: lexicographic order breaks the
    # documented newest-first contract from ten versions up (v9 > v10)
    versions = sorted(
        (
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        ),
        reverse=True,
    )
    for v in versions:
        if v > current:
            continue
        man = read_manifest(table_dir, v)
        out.append(
            {
                k: val
                for k, val in man.items()
                if k not in (
                    "files", "file_stats", "schema_json",
                    "segments", "segment_removed",
                )
            }
            | {"n_files": len(man["files"])}
        )
    return out


def version_as_of(table_dir: str, ts: float) -> int:
    """Resolve the newest committed version whose commit time is ≤
    ``ts`` (epoch seconds) — time-travel by timestamp. Raises if the
    retained history starts after ``ts`` (vacuum shrinks the window,
    exactly as it shrinks version-addressed travel). Legacy manifests
    without a commit time are treated as older than any timestamp."""
    best = None
    for man in mtable_history(table_dir):
        if man.get("committed_at", float("-inf")) <= ts:
            best = man["version"] if best is None else max(best, man["version"])
    if best is None:
        raise ValueError(
            f"mtable at {table_dir}: no retained version committed at or "
            f"before {ts} (earliest retained is newer — vacuumed away?)"
        )
    return best


def mtable_repair(table_dir: str) -> dict:
    """Reclaim orphan manifests ABOVE the ``_latest`` pointer — the
    debris a writer crash between manifest link and pointer flip
    leaves behind. The debris wedges the version-slot CAS (every
    subsequent writer plans against the pointer, claims pointer+1,
    and collides with the orphan forever), so this is the recovery
    path the ``ConcurrentWriteError`` message names.

    MUST run under the cooperative writer lock (``pipeline/state.py``):
    a manifest above the pointer is indistinguishable from a LIVE
    writer's just-linked, not-yet-pointed commit, and reclaiming that
    would destroy a healthy in-flight transaction. Under the lock no
    writer is in that window, so anything above the pointer is debris
    by construction. Orphan DATA files the debris referenced stay on
    disk, reader-invisible, until ``mtable_vacuum``."""
    ptr = _current_version(table_dir)
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    reclaimed = []
    for f in os.listdir(mdir):
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        v = int(f[1:-5])
        if v > ptr:
            os.remove(os.path.join(mdir, f))
            reclaimed.append(v)
    return {"pointer": ptr, "reclaimed_versions": sorted(reclaimed)}


def _new_data_files(
    table_dir: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    root: str = "data-parts",
    sort_within_by: list[str] | None = None,
    salt_col: str | None = None,
    salt_tasks: int | None = None,
    max_records_per_file: int | None = None,
    local_batch: bool = False,
) -> list[str]:
    """Write ``df`` as fresh immutable data files; return their paths
    (relative to ``table_dir``).

    Unpartitioned tables write one unique ``data-<uuid>/`` dir per
    commit. Partitioned tables stage a ``partitionBy`` write, then MOVE
    the leaf files into the table's single shared
    ``data-parts/col=value/`` tree (Spark's partition discovery
    requires ONE consistent directory structure under the basePath —
    per-commit roots with partition subdirs are a
    CONFLICTING_DIRECTORY_STRUCTURES error). Spark part-file names
    embed the write job's UUID, so moved files never collide across
    commits; immutability and the manifest's referenced-set rules are
    unchanged.

    Partitioned writes SHUFFLE BY THE PARTITION COLUMNS first (Delta's
    optimizeWrite move): a naive ``partitionBy`` fans every upstream
    task across every partition value — ``tasks × values`` small files
    PER COMMIT (measured: a 32-task batch over 25 values emitted ~540
    file-splits by the third commit), which is THE lakehouse killer at
    100 TB (manifest bloat, footer storms, tiny scans). After the
    shuffle each partition value lands in exactly one task → exactly
    one file per touched value per commit. Trade: a single huge
    partition writes one huge file (splitting it is compaction's job),
    and the shuffle adds one exchange to every partitioned commit —
    the standard write-amplification-vs-file-count trade, chosen the
    way every production lakehouse writer chooses it.

    ``salt_col`` (compaction's escape hatch from the one-file-per-value
    contract): when set, the pre-write shuffle keys on
    ``partition_by + [salt_col]`` and the salt column is DROPPED before
    the write — an oversized partition value whose salt takes k
    distinct values lands in up to k tasks → up to k files, so
    compaction can actually SPLIT a huge partition instead of
    re-coalescing it into one ever-larger file forever. Salting alone
    is BEST-EFFORT (hash collisions between (value, salt) combos can
    merge slices back into one task); ``max_records_per_file``
    (Spark's own writer option — the Delta file-sizing move) is the
    deterministic backstop: a task holding R rows of one value writes
    ⌈R / limit⌉ files regardless of how the shuffle landed. Salt buys
    cross-task PARALLELISM for the huge-partition rewrite; the record
    limit guarantees the SIZING."""
    def _drop_empty(rels: list[str]) -> list[str]:
        # Zero-row part files (Spark writes one for an empty task on
        # some plans) are pure waste in the manifest — a footer read
        # and a scan task per file forever — and their all-None stats
        # are indistinguishable from "unprunable", which forces every
        # stats-driven decision (planning, bloom candidates, rebase
        # conflict checks) onto its conservative path. Drop them at the
        # only moment it's free: O(new files) driver footer reads at
        # write time.
        import pyarrow.parquet as pq

        keep = []
        for rel in rels:
            path = os.path.join(table_dir, rel)
            try:
                empty = pq.ParquetFile(path).metadata.num_rows == 0
            except Exception:
                empty = False  # unreadable ≠ empty; keep and let reads decide
            if empty:
                os.remove(path)
            else:
                keep.append(rel)
        return keep

    if partition_by:
        import hashlib

        stage = os.path.join(table_dir, f"stage-{uuid.uuid4().hex}")
        shuffle_keys = [F.col(c) for c in partition_by]
        if salt_col is not None:
            shuffle_keys.append(F.col(salt_col))
        if salt_tasks:
            # an EXPLICIT partition count: AQE's coalescePartitions
            # would otherwise merge the salted shuffle back into a
            # handful of advisory-sized tasks, silently undoing the
            # split (user-specified counts are exempt from coalescing)
            shuffled = df.repartition(salt_tasks, *shuffle_keys)
        elif local_batch:
            # a LocalRelation batch (caller-certified: driver-held,
            # bounded — the MV refresh's local commit and small merge
            # batches): ONE task writing partitionBy still emits exactly
            # one file per touched value, so the optimizeWrite shuffle
            # would buy nothing and cost an exchange stage + its AQE
            # job (r18)
            shuffled = df.coalesce(1)
        else:
            shuffled = df.repartition(*shuffle_keys)
        if sort_within_by:
            # within-partition clustering survives the write because the
            # shuffle above put each partition value in exactly one task
            # (or one (value, salt) slice of it when salted)
            shuffled = shuffled.sortWithinPartitions(
                *partition_by, *sort_within_by
            )
        if salt_col is not None:
            shuffled = shuffled.drop(salt_col)
        writer = shuffled.write
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.partitionBy(*partition_by).parquet(stage)
        root_dir = os.path.join(table_dir, root)
        rels = []
        seen_basenames: set[str] = set()
        for sroot, _dirs, fs in os.walk(stage):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(sroot, stage)
                dst_dir = os.path.join(root_dir, rel_dir)
                os.makedirs(dst_dir, exist_ok=True)
                # BASENAMES must stay table-unique: one partitionBy job
                # writes the SAME part-NNNNN-<jobuuid> name into every
                # partition dir, and deletion vectors join on basename
                # (_metadata.file_name) — without a per-partition-dir
                # prefix a MOR delete's positions would shadow every
                # same-named sibling (measured: silent row loss). The
                # FULL md5 of the partition dir is the prefix: a
                # truncated 8-hex prefix goes birthday-colliding around
                # tens of thousands of partition dirs, which would
                # recreate the exact shadow bug this prefix fixes. The
                # seen-set assert is the backstop — collision here is
                # silent row loss later, so fail the write, never the
                # read.
                dst_f = (
                    hashlib.md5(rel_dir.encode()).hexdigest() + "-" + f
                )
                if dst_f in seen_basenames:
                    raise RuntimeError(
                        "mtable: generated part-file basename collides "
                        f"within one commit ({dst_f!r}) — deletion "
                        "vectors join on basename, so committing would "
                        "risk cross-partition row shadowing"
                    )
                seen_basenames.add(dst_f)
                os.rename(os.path.join(sroot, f), os.path.join(dst_dir, dst_f))
                rels.append(os.path.join(root, rel_dir, dst_f))
        import shutil

        shutil.rmtree(stage)
        return sorted(_drop_empty(rels))
    sub = f"data-{uuid.uuid4().hex}"
    out = os.path.join(table_dir, sub)
    df.write.parquet(out)
    kept = _drop_empty([
        os.path.join(sub, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ])
    if not kept:
        # an all-empty write (e.g. a CoW delete whose matched rows all
        # died) leaves only markers behind — remove the dir so the
        # manifest never has unreferenced debris to explain
        import shutil

        shutil.rmtree(out, ignore_errors=True)
    return kept


def _partition_values(
    rel: str, partition_by: list[str], schema_json: str | None
) -> dict:
    """Typed partition values parsed from a file's hive-style path
    segments (``col=value``), cast by the recorded table schema so
    planning compares like with like. A ``__HIVE_DEFAULT_PARTITION__``
    (NULL) value maps to None — unprunable on that column."""
    from urllib.parse import unquote

    raw = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            raw[k] = unquote(v)
    types = {}
    if schema_json:
        for fld in json.loads(schema_json)["fields"]:
            types[fld["name"]] = fld["type"]
    out = {}
    for c in partition_by:
        if c not in raw:
            continue
        v = raw[c]
        if v == "__HIVE_DEFAULT_PARTITION__":
            out[c] = None
            continue
        t = types.get(c, "string")
        try:
            if t in ("byte", "short", "integer", "long"):
                out[c] = int(v)
            elif t in ("float", "double"):
                fv = float(v)
                # Non-finite partition values must be UNPRUNABLE, not
                # [nan, nan]: nan <= x <= nan is always False, so a
                # present-but-never-satisfiable range would make the
                # planner skip the file while Spark's join semantics
                # treat NaN = NaN as a match — silent stale duplicates.
                # _footer_stats maps NaN to None; mirror that rule here.
                out[c] = fv if math.isfinite(fv) else None
            elif t == "boolean":
                out[c] = v == "true"
            else:
                out[c] = v
        except ValueError:
            out[c] = None  # unparseable: conservatively unprunable
    return out


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] from one parquet file's footer — the
    single footer-touching function (tests shim it to count driver
    footer I/O). Covers the first ``MAX_STATS_COLS`` leaf columns.
    A column maps to ``None`` (= UNPRUNABLE on that column: matched,
    read, never skipped) whenever its bounds cannot be trusted to
    cover every row:

    * ANY row group lacks min/max statistics (a key present only in a
      stats-less row group must not be pruned away — partial stats
      are not a valid file range);
    * stats are not JSON-round-trippable scalars (dates, decimals,
      NaN floats) or are over-long strings (a truncated max is not an
      upper bound);
    * the file has no row groups at all.

    String stats surface as ``bytes`` from the footer and are decoded
    so ``<=`` against Python strings is well-typed."""
    import pyarrow.parquet as pq

    def _norm(v):
        if isinstance(v, bytes):
            v = v.decode("utf-8", "surrogateescape")
        if isinstance(v, bool) or isinstance(v, int):
            return v
        if isinstance(v, float):
            return v if v == v else None  # NaN is not a bound
        if isinstance(v, str):
            return v if len(v) <= _MAX_STAT_STR else None
        return None

    md = pq.ParquetFile(path).metadata
    out: dict = {}
    for idx in range(min(md.num_columns, MAX_STATS_COLS)):
        name = md.schema.column(idx).name
        mins, maxs = [], []
        ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = _norm(st.min), _norm(st.max)
            if lo is None or hi is None:
                ok = False
                break
            mins.append(lo)
            maxs.append(hi)
        try:
            out[name] = [min(mins), max(maxs)] if ok else None
        except TypeError:  # cross-row-group incomparable types
            out[name] = None
    return out


def _file_key_ranges(table_dir: str, files: list[str], key: str) -> dict:
    """Single-column compatibility view over ``_footer_stats``:
    {file: (min, max) | None}. Planning goes through the
    manifest-persisted stats (``_ranges_for_plan``); this direct
    footer read survives for audits/tests of the trust rules."""
    out = {}
    for rel in files:
        st = _footer_stats(os.path.join(table_dir, rel)).get(key)
        out[rel] = tuple(st) if st is not None else None
    return out


def _stats_for(
    table_dir: str,
    files: list[str],
    parent: dict | None = None,
    partition_by: list[str] | None = None,
    schema_json: str | None = None,
) -> dict:
    """file → column-stats for every file in ``files``, reusing the
    parent manifest's persisted entry when present (data files are
    immutable, so persisted stats never go stale) and reading the
    footer only for files not yet under stats management (fresh
    writes, legacy manifests, hand-spliced files). This is what makes
    per-commit driver I/O O(new files), not O(table files).

    Partitioned tables overlay each fresh file's partition values as
    exact ``[v, v]`` ranges (the values are NOT in the parquet bytes —
    they live in the directory name), so every downstream pruner
    (collect bisect, range join, bloom candidates) prunes on partition
    keys with zero partition-specific code."""
    parent = parent or {}
    out = {}
    for rel in files:
        st = parent.get(rel)
        if st is None:
            st = _footer_stats(os.path.join(table_dir, rel))
            if partition_by:
                for c, v in _partition_values(
                    rel, partition_by, schema_json
                ).items():
                    st[c] = [v, v] if v is not None else None
        out[rel] = st
    return out


def _ranges_for_plan(table_dir: str, man: dict, keys: list[str]) -> dict:
    """{file: {key_col: (min, max)}} for planning — manifest-persisted
    stats first, footer fallback for files whose entry is missing or
    lacks a key column (absent ≠ untrusted: JSON ``null`` means the
    column was inspected and is unprunable — no re-read; a MISSING
    column means stats were never computed — read the footer once).
    A file whose dict comes back empty is unprunable outright."""
    persisted = man.get("file_stats", {})
    out = {}
    for rel in man["files"]:
        st = persisted.get(rel)
        if st is None or any(c not in st for c in keys):
            st = _footer_stats(os.path.join(table_dir, rel))
        box = {}
        for c in keys:
            rng = st.get(c)
            if rng is not None:
                box[c] = (rng[0], rng[1])
        out[rel] = box
    return out


def _plan_matched_files(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    batch: DataFrame,
    keys: list[str],
    max_collect_keys: int,
    empty_msg: str,
    precounted: tuple[int, dict] | None = None,
    keys_distinct: bool = False,
    batch_local: bool = False,
):
    """Shared MERGE/DELETE planning: which data files can contain any
    of the batch's key tuples?

    ``batch_local=True`` (r18): the caller CERTIFIES the batch is a
    driver-built LocalRelation (the MV refresh's local commit, the
    overwrite's rebuilt value set) — the key frame skips its persist
    (persisting a LocalRelation adds a materialization job) and the
    collect path skips its rebuild. An explicit flag, not plan
    sniffing: inspecting the optimized plan costs ~25 ms of driver
    time per call on real DAG batches, which at commit frequency was
    measurably slower than the broadcast jobs it avoided.

    Returns ``(matched, untouched, n_keys, key_df, path)`` where
    ``key_df`` is the persisted distinct-key DataFrame (caller reuses
    it for the anti-join and MUST unpersist) and ``path`` records the
    strategy taken ('collect' | 'join') in the manifest for
    observability.

    NULL keys are refused up front: a NULL never equi-matches, so the
    collect path would crash on it while the join path would silently
    never replace the row — rejecting loudly keeps both strategies
    behaviorally identical.

    Count-gated: one cheap ``distinct().count()`` decides. At or under
    ``max_collect_keys`` the exact key set collects for per-file
    membership tests — sorted key tuples, leading-column bisect into
    each file's box, conjunction check on the slice (O(files · log
    keys + hits), never O(files · keys)). Above it, nothing key-shaped
    ever reaches the driver: the per-file range table (one row per
    data file — thousands of rows for a 100 TB table, always
    broadcastable) joins against the key DataFrame on per-column range
    containment (conjunction; a column with no trusted range
    constrains nothing), and only the distinct matched FILE names
    collect (bounded by file count). Files with no trusted stats on
    any key column are matched unconditionally on both paths.

    ``precounted=(n_keys, key_box)`` lets a caller that already folded
    the distinct-count/NULL-refusal/bounding-box aggregate into its own
    batch-validation job (mtable_merge, overwrite — the r17 commit-floor
    folds) skip this helper's aggregate entirely: one planner job fewer
    per commit, identical planning inputs. Such a caller has already
    refused empty batches and NULL keys.

    ``keys_distinct=True`` additionally asserts the batch's key tuples
    are ALREADY distinct (merge: the duplicate-key and overlap refusals
    prove it; overwrite: the batch is a filtered ``distinct()``), so the
    key frame skips its own ``distinct()`` — one exchange (and its AQE
    stage round-trip) fewer per commit. Every consumer of the key frame
    is duplicate-insensitive anyway (semi/anti joins, the bisect
    membership test); the flag only matters for the non-precounted
    aggregate's count, which is why it requires ``precounted``."""
    kdf = batch.select(*keys)
    if not (keys_distinct and precounted is not None):
        kdf = kdf.distinct()
        # an aggregate over a LocalRelation is NOT folded — the
        # distinct key frame is distributed again
        batch_local = False
    if not batch_local:
        kdf = kdf.persist()
    if precounted is not None:
        n_keys, key_box = precounted
        return _match_files_from_ranges(
            spark, table_dir, man, kdf, keys, max_collect_keys,
            n_keys, key_box, kdf_local=batch_local,
        )
    # ONE agg carries the count-gate decision AND the per-column key
    # bounding box (for the rebase conflict check) — folding the box
    # into the job the planner already runs keeps the commit path at
    # the same job count it had before disjoint-writer rebase existed
    null_cond = F.lit(False)
    for c in keys:
        null_cond = null_cond | F.col(c).isNull()
    # the NULL-key refusal rides the SAME aggregate (one driver
    # round-trip, not two — at commit frequency these planner jobs are
    # the lakehouse's per-write floor)
    row = _plan_no_aqe(
        kdf.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(null_cond, 1).otherwise(0)).alias("__nn"),
            *[
                m
                for c in keys
                for m in (F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}"))
            ],
        )
    ).collect()[0]
    n_keys = row["__n"]
    key_box = {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in keys}
    if n_keys == 0:
        kdf.unpersist()
        raise ValueError(empty_msg)
    if row["__nn"]:
        kdf.unpersist()
        raise ValueError(
            f"mtable: NULL value in merge/delete key column(s) {keys} — "
            "a NULL key never equi-matches any table row; filter or "
            "repair the batch upstream"
        )
    return _match_files_from_ranges(
        spark, table_dir, man, kdf, keys, max_collect_keys, n_keys, key_box,
    )


def _match_files_from_ranges(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    kdf: DataFrame,
    keys: list[str],
    max_collect_keys: int,
    n_keys: int,
    key_box: dict,
    kdf_local: bool = False,
):
    """File-matching back half of ``_plan_matched_files`` (count-gated
    collect-bisect vs range-join — see its docstring), split out so
    callers with a precounted key aggregate share one copy.
    ``kdf_local``: the key frame is already a LocalRelation (certified
    by the caller) — skip the rebuild below."""
    ranges = _ranges_for_plan(table_dir, man, keys)
    unprunable = [f for f, box in ranges.items() if not box]
    bounded = {f: box for f, box in ranges.items() if box}
    if n_keys <= max_collect_keys:
        path = "collect"
        tuples = sorted(
            tuple(r[c] for c in keys) for r in _plan_no_aqe(kdf).collect()
        )
        if len(tuples) <= _LOCAL_KDF_MAX and not kdf_local:
            # the exact key set is in hand — rebuild the key frame as a
            # LocalRelation so every downstream consumer (the semi/anti
            # join's BroadcastExchange build, the bloom probe
            # projection) runs driver-side with ZERO Spark jobs instead
            # of one broadcast-build job per join over the persisted
            # distributed frame (r18)
            local = _local_df(spark, tuples, kdf.schema)
            if local is not None:
                kdf.unpersist()
                kdf = local
        firsts = [t[0] for t in tuples]
        hits = []
        for f, box in bounded.items():
            b0 = box.get(keys[0])
            if b0 is not None:
                cand = tuples[
                    bisect_left(firsts, b0[0]):bisect_right(firsts, b0[1])
                ]
            else:
                cand = tuples
            if any(
                all(
                    box[c][0] <= t[ci] <= box[c][1]
                    for ci, c in enumerate(keys)
                    if c in box
                )
                for t in cand
            ):
                hits.append(f)
    elif bounded:
        path = "join"
        fields = [T.StructField("_mt_file", T.StringType())]
        for i, kf in enumerate(kdf.schema.fields):
            fields.append(T.StructField(f"_mt_min_{i}", kf.dataType))
            fields.append(T.StructField(f"_mt_max_{i}", kf.dataType))
        rows = []
        for f, box in bounded.items():
            row = [f]
            for c in keys:
                lo, hi = box.get(c, (None, None))
                row += [lo, hi]
            rows.append(tuple(row))
        rng_df = spark.createDataFrame(rows, T.StructType(fields))
        cond = F.lit(True)
        for i, c in enumerate(keys):
            lo, hi = F.col(f"_mt_min_{i}"), F.col(f"_mt_max_{i}")
            cond = cond & (lo.isNull() | ((F.col(c) >= lo) & (F.col(c) <= hi)))
        hits = sorted(
            r[0]
            for r in _plan_no_aqe(
                kdf.join(F.broadcast(rng_df), cond)
                .select("_mt_file")
                .distinct()
            ).collect()
        )
    else:
        path = "join"
        hits = []
    if path == "collect":
        # bloom skipping (bounded-key path only — the probe positions
        # come from the already-count-gated key frame): a range-matched
        # or stats-less file whose bitset refutes every batch tuple is
        # provably clean
        candidates = unprunable + [f for f in hits if f not in set(unprunable)]
        candidates, n_bloom_skipped = _bloom_prune(
            spark, table_dir, man, kdf, keys, candidates
        )
        if n_bloom_skipped:
            path = f"collect+bloom:{n_bloom_skipped}"
        matched_set = set(candidates)
    else:
        matched_set = set(unprunable) | set(hits)
    matched = [f for f in man["files"] if f in matched_set]
    untouched = [f for f in man["files"] if f not in matched_set]
    return matched, untouched, n_keys, kdf, path, key_box


def _carry_dv(man: dict, files: list[str]) -> dict:
    """The parent manifest's DV entries restricted to ``files`` (the
    next version's survivors): a rewritten or dropped data file takes
    its deletion vectors with it — its replacement was materialized
    from the DV-filtered read, so carrying the old shadow forward
    would double-delete fresh rows at recycled positions."""
    dvmap = man.get("dv") or {}
    keep = set(files)
    return {f: list(v) for f, v in dvmap.items() if f in keep}


def _carry_schema(man: dict, meta: dict) -> dict:
    """Propagate the recorded table schema — and the partition spec —
    through a commit that does not change them (delete/compact/
    merge_agg/append) — otherwise one such commit would silently drop
    an evolved schema or departition the table."""
    if man.get("schema_json"):
        meta["schema_json"] = man["schema_json"]
    if man.get("partition_by"):
        meta["partition_by"] = man["partition_by"]
    # spec-evolution state rides with the spec itself
    for k in ("partition_root", "partition_spec_id"):
        if man.get(k) is not None and k not in meta:
            meta[k] = man[k]
    if man.get("checks") and "checks" not in meta:
        meta["checks"] = man["checks"]
    # Sink replay protection must survive maintenance commits too: a
    # compact/delete/merge squeezed between two micro-batches that
    # dropped 'epoch_watermark' would make the next crash-replay
    # re-commit an already-committed epoch — duplicate rows.
    if man.get("epoch_watermark") is not None and "epoch_watermark" not in meta:
        meta["epoch_watermark"] = man["epoch_watermark"]
        if man.get("epochs") and "epochs" not in meta:
            meta["epochs"] = man["epochs"]
    # a materialized view's definition + base watermark (pipeline/
    # mview.py) must survive maintenance commits for the same reason
    # as the epoch watermark: a compact that dropped it would orphan
    # the view from its base table
    if man.get("mv") is not None and "mv" not in meta:
        meta["mv"] = man["mv"]
    # dropped-column zombie bookkeeping (mtable_drop_columns) rides
    # every commit until the last byte-carrying file is rewritten
    if man.get("dropped_columns") and "dropped_columns" not in meta:
        meta["dropped_columns"] = man["dropped_columns"]
    # era-correct ADD COLUMN defaults ride every commit until the last
    # pre-add file is rewritten (mtable_add_columns)
    if man.get("column_defaults") and "column_defaults" not in meta:
        meta["column_defaults"] = man["column_defaults"]
    # likewise RENAME eras (mtable_rename_column) and WIDEN eras
    # (mtable_widen_column)
    if man.get("column_renames") and "column_renames" not in meta:
        meta["column_renames"] = man["column_renames"]
    if man.get("column_widenings") and "column_widenings" not in meta:
        meta["column_widenings"] = man["column_widenings"]
    return meta


def _check_expected(man: dict, expected_version: int | None, table_dir: str) -> None:
    if expected_version is not None and man["version"] != expected_version:
        raise ConcurrentWriteError(
            f"mtable at {table_dir}: planned against v{expected_version} "
            f"but the table is now at v{man['version']} — another writer "
            "committed first; replan from the current snapshot"
        )


def _retrying(fn, table_dir: str, retries: int, expected_version: int | None):
    """Optimistic-concurrency commit loop (Delta's retry protocol):
    ``fn`` plans against the CURRENT snapshot and attempts one commit;
    on ``ConcurrentWriteError`` we back off (bounded exponential),
    verify the table actually MOVED (a collision with an orphan
    manifest that the pointer never absorbs is crash debris — retrying
    would loop forever; fail over to the ``mtable_repair`` message
    instead), and replan from scratch. Snapshot-pinned callers
    (``expected_version``) opted out of replanning by definition, so
    pinning with retries is refused up front."""
    if retries and expected_version is not None:
        raise ValueError(
            "mtable: expected_version pins one snapshot; it cannot be "
            "combined with retries (auto-retry replans against a NEW "
            "snapshot, which is exactly what the pin forbids)"
        )
    attempt = 0
    while True:
        ptr_before = _current_version(table_dir)
        try:
            return fn()
        except ConcurrentWriteError:
            if attempt >= retries:
                raise
            attempt += 1
            time.sleep(min(0.05 * (2 ** attempt), 1.0))
            if (
                _current_version(table_dir) == ptr_before
                and os.path.exists(_manifest_path(table_dir, ptr_before + 1))
            ):
                raise ConcurrentWriteError(
                    f"mtable at {table_dir}: CAS collision at "
                    f"v{ptr_before + 1} but the pointer has not moved — "
                    "orphan crash debris is wedging the version slot; "
                    "run mtable_repair(table_dir) under the cooperative "
                    "writer lock, then retry"
                ) from None


#: How many times a CAS-losing writer may rebase onto newer snapshots
#: before giving up and surfacing ConcurrentWriteError (replan path).
_REBASE_ATTEMPTS = 5


def _rebase_conflict(
    base: dict,
    cur: dict,
    loser_read: set,
    key_box: dict,
    keys: list[str],
    table_dir: str,
) -> str | None:
    """Why a commit planned against snapshot ``base`` may NOT be
    rebased onto snapshot ``cur`` — or None when the winner's work is
    provably disjoint (the Delta/Iceberg logical-conflict-detection
    move: serialize N partition-parallel writers without forcing each
    loser through a full replan).

    Disjointness rules (every one errs toward CONFLICT — a wrong
    "disjoint" here is a silent-wrong-answer, a wrong "conflict" just
    costs one replan):

    * table-level contract changed (schema / partition spec / checks /
      bloom config) — the loser planned and validated under the old one;
    * the winner removed or rewrote any file the loser's plan READ
      (its matched set) — the loser's rewrite/DV is based on stale rows;
    * the winner changed deletion vectors on a file the loser read —
      same staleness, at row granularity;
    * any winner-ADDED file may contain the loser's keys (per-column
      stats ranges overlap the loser's key box on EVERY key column) —
      under a serial order the loser's merge/delete should have seen
      those rows, so committing around them would miss them. A file
      with missing/unprunable key stats conservatively conflicts."""
    for k in ("schema_json", "partition_by", "partition_root", "checks"):
        if base.get(k) != cur.get(k):
            return f"table {k} changed"
    b_cfg = {k: v for k, v in (base.get("bloom") or {}).items() if k != "files"}
    c_cfg = {k: v for k, v in (cur.get("bloom") or {}).items() if k != "files"}
    if b_cfg != c_cfg:
        return "bloom config changed"
    base_files, cur_files = set(base["files"]), set(cur["files"])
    hit = (base_files - cur_files) & loser_read
    if hit:
        return f"winner removed {len(hit)} file(s) this commit read"
    base_dv, cur_dv = base.get("dv") or {}, cur.get("dv") or {}
    for f in sorted(loser_read):
        if base_dv.get(f) != cur_dv.get(f):
            return f"winner changed deletion vectors on {f}"
    added = cur_files - base_files
    if added and keys:
        if not key_box:
            return "no key range recorded for this commit"
        stats = cur.get("file_stats") or {}
        for f in sorted(added):
            st = stats.get(f)
            if st is None:
                st = _footer_stats(os.path.join(table_dir, f))
            may_overlap = True
            for c in keys:
                rng = (st or {}).get(c)
                bmn, bmx = key_box.get(c, (None, None))
                if rng is None or bmn is None or bmx is None:
                    continue  # unprovable on this column; try the next
                try:
                    if rng[1] < bmn or rng[0] > bmx:
                        may_overlap = False
                        break
                except TypeError:
                    # incomparable representations (e.g. a date key's
                    # footer stats JSON-round-tripped as ISO strings vs
                    # the key box's Python date objects): unprovable,
                    # not an error — stay conservative
                    continue
            if may_overlap:
                return f"winner-added file {f} may contain this commit's keys"
    return None


def _publish_or_rebase(
    spark: SparkSession,
    table_dir: str,
    base_man: dict,
    *,
    loser_removed: set[str],
    loser_read: set[str],
    loser_added: list[str],
    loser_dv_added: dict,
    meta: dict,
    key_box: dict,
    allow_rebase: bool,
) -> None:
    """Commit a planned mutation, REBASING onto newer snapshots when a
    concurrent winner's work is provably disjoint (``_rebase_conflict``)
    instead of failing back to a full replan. The rebase re-derives
    only O(manifest) state — file list, carried DVs/blooms/stats — and
    REUSES the loser's already-written data files, DV sidecars, bloom
    bitsets and new-file stats, so N writers over disjoint partitions
    serialize at manifest speed, not at merge-job speed. Snapshot-pinned
    callers (``expected_version``) never rebase: the pin IS the request
    to fail on any concurrent motion."""
    man = base_man
    rebases = 0
    cached_new_stats: dict | None = None
    new_bloom_entries: dict | None = None
    while True:
        files = [f for f in man["files"] if f not in loser_removed] + loser_added
        dv = _carry_dv(man, files)
        for f, lst in (loser_dv_added or {}).items():
            have = dv.setdefault(f, [])
            have.extend(x for x in lst if x not in have)
        survivors = [f for f in man["files"] if f not in loser_removed]
        bloom = _carry_bloom(man, survivors)
        if bloom is not None:
            if new_bloom_entries is None:
                new_bloom_entries = (
                    _bloom_build(
                        spark, table_dir, loser_added,
                        {"schema_json": man.get("schema_json")}, bloom,
                    )
                    if loser_added
                    else {}
                )
            bloom["files"].update(new_bloom_entries)
        attempt_meta = dict(meta)
        attempt_meta["parent"] = man["version"]
        if rebases:
            attempt_meta["rebases"] = rebases
            attempt_meta["rebased_onto"] = man["version"]
            # Sink bookkeeping: keep the NEWER watermark. The winner may
            # have advanced it past the carried copy in our meta (a sink
            # batch raced our maintenance commit) — but when WE are the
            # sink (combine-mode merge_agg carrying a fresh epoch in
            # extra_meta) and the winner was maintenance, ours is the
            # newer one: overwriting it with the winner's stale value
            # would re-open the replay window on a NON-idempotent
            # combine. Epoch ids are monotone, so max is the rule.
            theirs = man.get("epoch_watermark")
            ours = attempt_meta.get("epoch_watermark")
            if theirs is not None and (ours is None or theirs > ours):
                attempt_meta["epoch_watermark"] = theirs
                if man.get("epochs"):
                    attempt_meta["epochs"] = man["epochs"]
        stats = _stats_for(
            table_dir,
            files,
            {**(man.get("file_stats") or {}), **(cached_new_stats or {})},
            partition_by=man.get("partition_by"),
            schema_json=attempt_meta.get("schema_json") or man.get("schema_json"),
        )
        cached_new_stats = {f: stats[f] for f in loser_added}
        try:
            _write_manifest(
                table_dir, man["version"] + 1, files, attempt_meta,
                file_stats=stats, dv=dv, bloom=bloom,
            )
            return
        except ConcurrentWriteError:
            if not allow_rebase or rebases >= _REBASE_ATTEMPTS:
                raise
            cur = read_manifest(table_dir)
            if cur["version"] == man["version"]:
                raise  # wedged slot — _retrying's probe owns the message
            why = _rebase_conflict(
                man, cur, loser_read, key_box,
                list(meta.get("keys") or []), table_dir,
            )
            if why is not None:
                raise ConcurrentWriteError(
                    f"mtable at {table_dir}: concurrent commit is not "
                    f"rebase-safe ({why}); replan from the current snapshot"
                ) from None
            man = cur
            rebases += 1


# ---------------------------------------------------------------------------
# Per-file key BLOOM FILTERS (opt-in; the Delta bloom-filter-index /
# Iceberg bloom write-property move): manifest min/max stats prune by
# RANGE, which degenerates after unclustered merges — a rewritten or
# appended file spans the whole key domain, so a point lookup matches
# every file. A per-file bloom over the key TUPLE skips files
# independently of clustering. Bitsets live in per-commit parquet
# sidecars under bloom-*/ (never inline in the manifest JSON); the
# manifest maps data file -> sidecar. Trade (why opt-in): commit-time
# cost grows from O(new footers) to O(new rows) — one extra read-back
# scan of the just-written files to hash their keys.
# ---------------------------------------------------------------------------

_BLOOM_DEFAULT_BITS = 1 << 17  # 16 KB/file: fpp < 1% up to ~13k keys/file
_BLOOM_K = 7


def _bloom_positions(keys: list[str], bits: int):
    """The k bit positions of a key tuple — double hashing over TWO
    independent xxhash64 renderings (seeded by an extra literal).
    Computed by SPARK on both the build and the probe side, so the
    hash definition lives in exactly one engine."""
    cols = [F.col(c) for c in keys]
    # reduce both hashes BEFORE combining: h1 + i*h2 on raw 64-bit
    # hashes overflows long (ANSI mode refuses); the reduced forms are
    # < bits so the stride sum stays tiny. h2 is forced into
    # 1..bits-1 — a zero stride would collapse the k probes into one
    p1 = F.pmod(F.xxhash64(*cols), F.lit(bits))
    p2 = F.pmod(F.xxhash64(F.lit(-1640531527), *cols), F.lit(bits - 1)) + F.lit(1)
    return [
        F.pmod(p1 + F.lit(i) * p2, F.lit(bits)).cast("int").alias(f"_bp{i}")
        for i in range(_BLOOM_K)
    ]


def _bloom_build(
    spark: SparkSession,
    table_dir: str,
    new_files: list[str],
    man: dict,
    bloom: dict,
) -> dict:
    """Hash the NEW files' key tuples into one bitset per file (an
    applyInPandas kernel — the bitset is built on the executors, only
    bits/8 bytes per file return) and write one sidecar parquet for
    the commit. Returns {data_file_rel: sidecar_rel} for the new
    files."""
    import pandas as pd

    if not new_files:
        return {}
    keys, bits = bloom["keys"], bloom["bits"]
    scan = _scan_with_pos(spark, table_dir, new_files, man, dv_man={})
    hashed = scan.select("_mt_file", *_bloom_positions(keys, bits))

    def kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        bs = np.zeros(bits // 8, dtype=np.uint8)
        for i in range(_BLOOM_K):
            pos = pdf[f"_bp{i}"].to_numpy()
            np.bitwise_or.at(
                bs, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8))
            )
        return pd.DataFrame(
            {"file": [pdf["_mt_file"].iloc[0]], "bloom": [bs.tobytes()]}
        )

    rows = hashed.groupBy("_mt_file").applyInPandas(
        kern, "file string, bloom binary"
    ).collect()
    # a writer can emit EMPTY part files (a partition with no
    # survivors): no rows -> no group -> no bitset. Give them the
    # all-zeros bloom — an empty file refutes every key, the maximal
    # prune. The driver round-trip is bounded: bits/8 bytes per NEW
    # file (the sidecar's own size), never table- or row-scaled.
    base_to_rel = {os.path.basename(f): f for f in new_files}
    present = {r["file"] for r in rows}
    pairs = [(r["file"], bytes(r["bloom"])) for r in rows] + [
        (b, bytes(bits // 8)) for b in base_to_rel if b not in present
    ]
    sub = f"bloom-{uuid.uuid4().hex}"
    out = os.path.join(table_dir, sub)
    # repartition(1), NOT coalesce(1): coalescing a driver-local
    # relation takes a measured ~4.5 s fixed-cost execution path in
    # local mode (the round-14 profile of q_mtable_bloom_delete — it
    # was half the query's wall); the 1-partition exchange is ~10×
    # cheaper and the sidecar is a few KB either way
    spark.createDataFrame(pairs, "file string, bloom binary").repartition(
        1
    ).write.parquet(out)
    rel = os.path.join(
        sub, [f for f in os.listdir(out) if f.endswith(".parquet")][0]
    )
    return {base_to_rel[b]: rel for b, _ in pairs}


def _carry_bloom(man: dict, files: list[str]) -> dict | None:
    """The parent's bloom config with its file map restricted to the
    surviving files (a rewritten file's bitset dies with it — its
    replacement is re-hashed by the committing writer)."""
    bloom = man.get("bloom")
    if not bloom:
        return None
    keep = set(files)
    return {
        **{k: v for k, v in bloom.items() if k != "files"},
        "files": {f: s for f, s in bloom.get("files", {}).items() if f in keep},
    }


def _bloom_prune(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    kdf: DataFrame,
    keys: list[str],
    candidates: list[str],
) -> tuple[list[str], int]:
    """Drop candidate files whose bloom provably contains NO batch key
    tuple. Applies only when the table's bloom covers exactly the
    probe key tuple; files without a bitset (pre-bloom commits,
    hand-spliced) always pass. The probe positions come from one tiny
    Spark job over the already-collected-sized key frame — the same
    hash expressions the build used. Returns (surviving candidates,
    n_skipped)."""
    bloom = man.get("bloom")
    if not bloom or bloom["keys"] != keys or not candidates:
        return candidates, 0
    fmap = bloom.get("files", {})
    with_bits = [f for f in candidates if f in fmap]
    if not with_bits:
        return candidates, 0
    probes = [
        tuple(r[f"_bp{i}"] for i in range(_BLOOM_K))
        for r in _plan_no_aqe(
            kdf.select(*_bloom_positions(keys, bloom["bits"]))
        ).collect()
    ]
    import pyarrow.parquet as pq

    bitsets: dict[str, bytes] = {}
    for rel in sorted({fmap[f] for f in with_bits}):
        tbl = pq.read_table(os.path.join(table_dir, rel))
        for b, bs in zip(
            tbl.column("file").to_pylist(), tbl.column("bloom").to_pylist()
        ):
            bitsets[b] = bs
    out, skipped = [], 0
    for f in candidates:
        if f not in fmap:
            out.append(f)
            continue
        bs = bitsets.get(os.path.basename(f))
        if bs is None:
            out.append(f)
            continue
        hit = any(
            all(bs[p >> 3] & (1 << (p & 7)) for p in tup) for tup in probes
        )
        if hit:
            out.append(f)
        else:
            skipped += 1
    return out, skipped


def _bloom_for_commit(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    survivors: list[str],
    new_files: list[str],
) -> dict | None:
    """One call per committing writer: carry the parent's bitsets for
    the surviving files and hash the fresh files' keys into new ones.
    A table without a bloom config stays bloom-free (None)."""
    bloom = _carry_bloom(man, survivors)
    if bloom is None:
        return None
    bloom["files"].update(
        _bloom_build(
            spark, table_dir, new_files,
            {"schema_json": man.get("schema_json")}, bloom,
        )
    )
    return bloom


def _enforce_checks(
    df: DataFrame, checks: dict | None, context: str
) -> None:
    """WRITE-TIME CHECK constraints (round 14 — Delta's table
    constraints): every committing batch validates against the
    manifest's named boolean SQL expressions in ONE aggregate pass
    (per-check violation counts, no per-check jobs), and a violation
    refuses the commit loudly with counts per failed check. SQL
    semantics: a NULL predicate result PASSES (unknown is not a
    violation — the standard CHECK rule), so `bal >= 0` admits NULL
    balances; add `bal IS NOT NULL` explicitly to forbid them.
    Enforced where rows ENTER the table (create, merge batches, the
    streaming sink's appends, merge-agg's combined output); commits
    that only rearrange existing rows (delete, compact, restore) never
    re-scan."""
    if not checks:
        return
    aggs = [
        F.sum(F.when(~F.expr(expr), 1).otherwise(0)).alias(name)
        for name, expr in sorted(checks.items())
    ]
    row = _plan_no_aqe(df.agg(*aggs)).collect()[0]
    bad = {n: int(row[n]) for n in sorted(checks) if row[n]}
    if bad:
        detail = ", ".join(
            f"{n!r} ({checks[n]}): {c} row(s)" for n, c in bad.items()
        )
        raise ValueError(
            f"mtable {context}: CHECK constraint violation — {detail}; "
            "the batch was refused and no version was committed"
        )


def mtable_set_checks(
    spark: SparkSession,
    table_dir: str,
    checks: dict[str, str],
    validate_existing: bool = True,
) -> dict:
    """Install (or replace) the table's CHECK constraints as a new
    version. ``validate_existing=True`` (default) scans the current
    snapshot once and refuses if any live row violates a new check —
    installing a constraint the data already breaks would make every
    subsequent writer fail for history's sins. Pass an empty dict to
    drop all checks."""
    man = read_manifest(table_dir)
    if checks and validate_existing:
        _enforce_checks(
            mtable_read(spark, table_dir), checks, "set_checks(existing data)"
        )
    meta = _carry_schema(man, {
        "op": "set-checks",
        "parent": man["version"],
        "checks": dict(sorted(checks.items())),
    })
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=man.get("file_stats"),
        dv=man.get("dv"),
        bloom=man.get("bloom"),
    )
    return read_manifest(table_dir)


def mtable_add_columns(
    spark: SparkSession,
    table_dir: str,
    cols: dict[str, tuple[str, object]],
) -> dict:
    """ALTER TABLE ADD COLUMN ... DEFAULT as a METADATA-ONLY commit
    with ERA-CORRECT defaults (Iceberg's initial-default semantics):
    ``cols`` maps new column name → (Spark DDL type, default literal).
    No data file is touched — the commit records the widened schema
    plus, per column, the default and the file list that PREDATES it.
    Readers fill the default for exactly those files (they physically
    lack the column, so every row takes it) while files written later
    carry real bytes — including real NULLs, which a naive
    read-then-coalesce would silently overwrite. Any rewrite
    (merge/compaction) materializes the default into the new files,
    so era lists only ever shrink.

    Defaults must be JSON-storable scalars castable to the declared
    type (strings are fine for dates/timestamps/decimals — they cast).
    A default of None is allowed and degenerates to the plain
    add-column evolution (null-fill), recorded without an era list."""
    man = read_manifest(table_dir)
    sj = man.get("schema_json")
    if sj is None:
        raise ValueError(
            f"mtable at {table_dir}: legacy manifest without a recorded "
            "schema cannot add columns (recreate or compact first)"
        )
    if not cols:
        raise ValueError("mtable_add_columns: no columns given")
    schema = json.loads(sj)
    existing = {f["name"] for f in schema["fields"]}
    new_fields = []
    defaults = dict(man.get("column_defaults") or {})
    live_phys = {
        e["from"]
        for eras in (man.get("column_renames") or {}).values()
        for e in eras
        if e["files"]
    }
    live = set(man["files"])
    dropped_live = {
        c
        for c, fs in (man.get("dropped_columns") or {}).items()
        if set(fs) & live
    }
    for name, (ddl, default) in cols.items():
        if name in existing:
            raise ValueError(
                f"mtable_add_columns: column {name!r} already exists"
            )
        if name in live_phys:
            raise ValueError(
                f"mtable_add_columns: {name!r} is still the PHYSICAL name "
                "of a rename era some files carry — compact first"
            )
        if default is not None and not isinstance(
            default, (str, int, float, bool)
        ):
            raise ValueError(
                f"mtable_add_columns: default for {name!r} must be a "
                "JSON-storable scalar (str/int/float/bool) castable to "
                f"{ddl!r}"
            )
        try:
            field = T.StructType.fromDDL(f"`{name}` {ddl}").fields[0]
        except Exception as e:
            raise ValueError(
                f"mtable_add_columns: cannot parse type {ddl!r} for "
                f"{name!r}: {e}"
            ) from e
        if default is not None:
            # fail at the only informative moment if the literal cannot
            # cast to the declared type (one driver-only expression)
            probe = spark.createDataFrame([(1,)], "x int").select(
                F.lit(default).cast(ddl)
            )
            try:
                # under ANSI semantics a bad literal throws here; under
                # legacy it comes back NULL — refuse either way
                bad = (
                    probe.schema.fields[0].dataType != field.dataType
                    or probe.first()[0] is None
                )
            except Exception:
                bad = True
            if bad:
                raise ValueError(
                    f"mtable_add_columns: default {default!r} does not "
                    f"cast to {ddl!r} for column {name!r}"
                )
            defaults[name] = {
                "type": ddl,
                "default": default,
                "files": sorted(man["files"]),
            }
        elif name in dropped_live:
            # ZOMBIE-BYTE mask (ADVICE r17): this name was DROPPED and
            # live files still physically carry its pre-drop bytes — a
            # plain null-fill re-add would resurrect them through the
            # schema-declared read. A NULL-default era masks the old
            # bytes for exactly the current files; files written after
            # this add carry honest values, and any rewrite shrinks the
            # era toward empty, same as every other era.
            defaults[name] = {
                "type": ddl,
                "default": None,
                "files": sorted(man["files"]),
            }
        new_fields.append(json.loads(field.json()))
    meta = _carry_schema(man, {
        "op": "add-columns",
        "parent": man["version"],
        "added": sorted(cols),
    })
    meta["schema_json"] = json.dumps(
        {**schema, "fields": schema["fields"] + new_fields}, sort_keys=True
    )
    if defaults:
        meta["column_defaults"] = defaults
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=man.get("file_stats"),
        dv=man.get("dv"),
        bloom=man.get("bloom"),
    )
    return read_manifest(table_dir)


def _rename_eras_for(man: dict, files: list[str]) -> dict[str, list[dict]]:
    """The RENAME eras applicable to THIS read: declared column name →
    [{"from": physical name, "files": era files ∩ files being read}].
    A file appears in at most one era per column (the oldest physical
    name it carries); rewrites shrink every era toward empty."""
    out: dict[str, list[dict]] = {}
    fset = set(files)
    for new, eras in (man.get("column_renames") or {}).items():
        hit = [
            {**e, "files": set(e["files"]) & fset}
            for e in eras
            if set(e["files"]) & fset
        ]
        if hit:
            out[new] = hit
    return out


def _file_rename_sig(
    renames: dict[str, list[dict]], f: str
) -> tuple[tuple[str, str], ...]:
    """(declared, physical) pairs this one file needs, sorted."""
    sig = []
    for new, eras in renames.items():
        for e in eras:
            if f in e["files"]:
                sig.append((new, e["from"]))
                break
    return tuple(sorted(sig))


def _patched_schema_json(
    sj: str,
    sig: tuple[tuple[str, str], ...],
    wsig: tuple[tuple[str, str], ...] = (),
) -> str:
    """The recorded schema with the rename pairs (declared → physical
    NAME) and widen pairs (declared name → physical narrow TYPE ddl)
    applied IN PLACE (order preserved) — the schema a pre-alter file's
    bytes actually satisfy. Types patch first (keyed on declared
    names), then names."""
    schema = json.loads(sj)
    if wsig:
        wmap = {
            c: T.StructType.fromDDL(f"`x` {ddl}").fields[0].dataType.jsonValue()
            for c, ddl in wsig
        }
        for fld in schema["fields"]:
            if fld["name"] in wmap:
                fld["type"] = wmap[fld["name"]]
    phys = dict(sig)
    for fld in schema["fields"]:
        if fld["name"] in phys:
            fld["name"] = phys[fld["name"]]
    return json.dumps(schema, sort_keys=True)


#: widening-only type changes ``mtable_widen_column`` accepts: every
#: value of the narrow type is exactly representable in the wide one
#: (int→double is exact — ints fit a 53-bit mantissa; long→double is
#: NOT and is refused)
_SAFE_WIDENINGS = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
}


def _dt_from_json(type_json) -> T.DataType:
    """A DataType from its schema-json ``type`` value (primitive string
    or nested object)."""
    return T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "x", "type": type_json, "nullable": True,
                 "metadata": {}}
            ],
        }
    ).fields[0].dataType


def _widen_eras_for(man: dict, files: list[str]) -> dict[str, list[dict]]:
    """The WIDEN eras applicable to THIS read: declared column name →
    [{"from": narrow ddl, "files": era files ∩ files being read}]."""
    out: dict[str, list[dict]] = {}
    fset = set(files)
    for c, eras in (man.get("column_widenings") or {}).items():
        hit = [
            {**e, "files": set(e["files"]) & fset}
            for e in eras
            if set(e["files"]) & fset
        ]
        if hit:
            out[c] = hit
    return out


def _file_widen_sig(
    widens: dict[str, list[dict]], f: str
) -> tuple[tuple[str, str], ...]:
    sig = []
    for c, eras in widens.items():
        for e in eras:
            if f in e["files"]:
                sig.append((c, e["from"]))
                break
    return tuple(sorted(sig))


def mtable_widen_column(
    spark: SparkSession,
    table_dir: str,
    col: str,
    new_type: str,
) -> dict:
    """ALTER TABLE ALTER COLUMN TYPE — WIDENING ONLY — as a
    METADATA-ONLY commit (Delta's type widening / Iceberg's primitive
    promotion): byte→short→int→long, float→double, and small-int→
    double (all exact). The commit records the narrow physical type
    the current files carry; readers scan each era under the narrow
    schema and CAST after the scan, files written later carry the wide
    type for real, and any rewrite materializes it. Lossy changes
    (long→double, anything→string, narrowing) are refused — that is a
    data migration (``session.migrate_table``), not an ALTER."""
    man = read_manifest(table_dir)
    sj = man.get("schema_json")
    if sj is None:
        raise ValueError(
            f"mtable at {table_dir}: legacy manifest without a recorded "
            "schema cannot widen columns"
        )
    schema = json.loads(sj)
    fld = next((f for f in schema["fields"] if f["name"] == col), None)
    if fld is None:
        raise ValueError(
            f"mtable_widen_column: {col!r} not in the table schema "
            f"{[f['name'] for f in schema['fields']]}"
        )
    try:
        new_dt = T.StructType.fromDDL(f"`x` {new_type}").fields[0].dataType
    except Exception as e:
        raise ValueError(
            f"mtable_widen_column: cannot parse type {new_type!r}: {e}"
        ) from e
    old_json = fld["type"]
    if not isinstance(old_json, str):
        raise ValueError(
            f"mtable_widen_column: {col!r} is a nested type "
            f"({old_json.get('type')}) — only primitive widenings are "
            "supported"
        )
    if new_dt.jsonValue() == old_json:
        raise ValueError(
            f"mtable_widen_column: {col!r} is already {new_type!r}"
        )
    if new_dt.jsonValue() not in _SAFE_WIDENINGS.get(old_json, set()):
        raise ValueError(
            f"mtable_widen_column: {old_json} → {new_type!r} is not a "
            "safe widening (allowed: byte/short/int→wider int or double, "
            "float→double); use session.migrate_table for a lossy change"
        )
    if col in set(man.get("partition_by") or []):
        raise ValueError(
            f"mtable_widen_column: {col!r} is a partition column — its "
            "values are path-borne strings re-parsed under the spec; "
            "rewrite the spec instead"
        )
    bloom = man.get("bloom")
    if bloom and col in (bloom.get("keys") or []):
        # xxhash64 hashes the TYPED value: the existing bitsets were
        # built from the narrow type, and a wide-typed probe of the
        # same number lands on different bits — silent FALSE refutation
        # (a merge would skip files that hold matching keys). A rename
        # is name-only and translates; a widen cannot.
        raise ValueError(
            f"mtable_widen_column: {col!r} is a bloom key column — the "
            "per-file bitsets hash the typed value, so widening would "
            "falsely refute old files; migrate with session.migrate_table"
        )
    widens = {
        k: [dict(e) for e in v]
        for k, v in (man.get("column_widenings") or {}).items()
    }
    prior = widens.pop(col, [])
    covered = {f for e in prior for f in e["files"]}
    fresh = sorted(set(man["files"]) - covered)
    eras = prior + ([{"from": old_json, "files": fresh}] if fresh else [])
    if eras:
        widens[col] = eras
    fld["type"] = new_dt.jsonValue()
    meta = _carry_schema(man, {
        "op": "widen-column",
        "parent": man["version"],
        "widened": [col, old_json, new_dt.jsonValue()],
        "column_widenings": widens,
    })
    meta["schema_json"] = json.dumps(schema, sort_keys=True)
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=man.get("file_stats"),
        dv=man.get("dv"),
        bloom=man.get("bloom"),
    )
    return read_manifest(table_dir)


def mtable_rename_column(
    spark: SparkSession,
    table_dir: str,
    old: str,
    new: str,
) -> dict:
    """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit — the move
    Delta needs column-mapping mode for and Iceberg does with field
    IDs, done here with RENAME ERAS: the commit records that every
    current file stores the column's bytes under the OLD physical
    name; readers scan those files under a patched schema and rename
    after the scan, while files written later carry the new name for
    real. Everything name-keyed in the manifest translates EXACTLY in
    the same commit — per-file stats (planning on the new name keeps
    pruning old files), bloom key config (the bitsets hash values, not
    names), ADD-era defaults. Renames compose (a→b→c chains flatten
    into per-era physical names) and any rewrite materializes the new
    name, shrinking the eras.

    Refused for partition columns (their name is a directory
    component) and CHECK-referenced columns (rewrite the check
    first); also refused when ``new`` collides with a live column OR
    with a historical physical name some unrewritten file still
    carries (compact first — resurrecting a physical name would make
    one scan need two fields with one name)."""
    man = read_manifest(table_dir)
    sj = man.get("schema_json")
    if sj is None:
        raise ValueError(
            f"mtable at {table_dir}: legacy manifest without a recorded "
            "schema cannot rename columns"
        )
    schema = json.loads(sj)
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(
            f"mtable_rename_column: {old!r} not in the table schema {names}"
        )
    if old == new:
        raise ValueError("mtable_rename_column: old and new are the same name")
    if new in names:
        raise ValueError(
            f"mtable_rename_column: {new!r} already exists in the schema"
        )
    renames = {
        k: [dict(e) for e in v]
        for k, v in (man.get("column_renames") or {}).items()
    }
    live_phys = {
        e["from"] for eras in renames.values() for e in eras if e["files"]
    }
    if new in live_phys:
        raise ValueError(
            f"mtable_rename_column: {new!r} is still the PHYSICAL name of "
            "an earlier rename era some files carry — compact first"
        )
    if old in set(man.get("partition_by") or []):
        raise ValueError(
            f"mtable_rename_column: {old!r} is a partition column — its "
            "name is a directory component; rewrite the spec instead"
        )
    for cname, expr in (man.get("checks") or {}).items():
        if re.search(rf"\b{re.escape(old)}\b", expr):
            raise ValueError(
                f"mtable_rename_column: column {old!r} is referenced by "
                f"CHECK {cname!r} ({expr}); rewrite the check first"
            )
    # chain-flatten: files already carrying an even-older physical name
    # keep it; everything else physically carries ``old``
    prior = renames.pop(old, [])
    covered = {f for e in prior for f in e["files"]}
    fresh = sorted(set(man["files"]) - covered)
    eras = prior + ([{"from": old, "files": fresh}] if fresh else [])
    if eras:
        renames[new] = eras
    # schema rename in place
    for fld in schema["fields"]:
        if fld["name"] == old:
            fld["name"] = new
    meta = _carry_schema(man, {
        "op": "rename-column",
        "parent": man["version"],
        "renamed": [old, new],
        "column_renames": renames,
    })
    meta["schema_json"] = json.dumps(schema, sort_keys=True)
    # name-keyed metadata translates exactly: stats keys, bloom keys,
    # ADD-era defaults
    stats = {
        f: (
            {(new if c == old else c): v for c, v in st.items()}
            if st
            else st
        )
        for f, st in (man.get("file_stats") or {}).items()
    }
    bloom = man.get("bloom")
    if bloom and old in (bloom.get("keys") or []):
        bloom = {
            **bloom,
            "keys": [new if k == old else k for k in bloom["keys"]],
        }
    defaults = man.get("column_defaults")
    if defaults and old in defaults:
        defaults = {
            (new if c == old else c): d for c, d in defaults.items()
        }
        meta["column_defaults"] = defaults
    widenings = man.get("column_widenings")
    if widenings and old in widenings:
        meta["column_widenings"] = {
            (new if c == old else c): d for c, d in widenings.items()
        }
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=stats,
        dv=man.get("dv"),
        bloom=bloom,
    )
    return read_manifest(table_dir)


def mtable_drop_columns(
    spark: SparkSession,
    table_dir: str,
    cols: str | list[str],
) -> dict:
    """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit (the
    Delta-with-column-mapping / Iceberg drop semantics): the new
    version's recorded schema simply omits the columns; no data file
    is touched. Every reader resolves through the schema-declared read
    (``_read_files``), which prunes columns not in the declared
    struct, so old files' bytes for the dropped column become
    invisible immediately and physically disappear whenever compaction
    next rewrites a file. Time travel stays era-correct: a read AS OF
    a pre-drop version uses THAT manifest's schema and still sees the
    column.

    Refused for columns the table's machinery depends on — partition
    columns (their values live in directory names), bloom key columns
    (the bitsets hash them), and any column referenced by an installed
    CHECK constraint (drop or rewrite the check first). Dropping every
    column is refused. Renames are deliberately NOT offered: drop+add
    loses data, and a true rename needs per-file field identity
    (Iceberg field IDs) this format does not carry."""
    drop = _as_keys(cols)
    man = read_manifest(table_dir)
    sj = man.get("schema_json")
    if sj is None:
        raise ValueError(
            f"mtable at {table_dir}: legacy manifest without a recorded "
            "schema cannot drop columns (recreate or compact first)"
        )
    schema = json.loads(sj)
    names = [f["name"] for f in schema["fields"]]
    missing = [c for c in drop if c not in names]
    if missing:
        raise ValueError(
            f"mtable_drop_columns: {missing} not in the table schema {names}"
        )
    remaining = [f for f in schema["fields"] if f["name"] not in drop]
    if not remaining:
        raise ValueError("mtable_drop_columns: cannot drop every column")
    pb = set(man.get("partition_by") or [])
    if pb & set(drop):
        raise ValueError(
            f"mtable_drop_columns: {sorted(pb & set(drop))} are partition "
            "columns — their values are path-borne; rewrite the spec first "
            "(mtable_set_partitioning)"
        )
    bloom = man.get("bloom")
    if bloom and set(bloom.get("keys") or []) & set(drop):
        raise ValueError(
            f"mtable_drop_columns: {sorted(set(bloom['keys']) & set(drop))} "
            "are bloom key columns — the per-file bitsets hash them"
        )
    for name, expr in (man.get("checks") or {}).items():
        for c in drop:
            if re.search(rf"\b{re.escape(c)}\b", expr):
                raise ValueError(
                    f"mtable_drop_columns: column {c!r} is referenced by "
                    f"CHECK {name!r} ({expr}); drop or rewrite the check "
                    "first (mtable_set_checks)"
                )
    # ZOMBIE-BYTE bookkeeping (ADVICE r17): the drop is metadata-only,
    # so live files still PHYSICALLY carry the dropped column's bytes —
    # re-adding the same name without an era would resurrect pre-drop
    # values through the schema-declared read. Record, per dropped
    # physical name, the files that still carry its bytes: the declared
    # name's bytes live in every current file, and a dropped column's
    # RENAME eras leave their old physical names' bytes in exactly the
    # era files. mtable_add_columns/_evolve_schema consult this map;
    # rewrites shrink the intersections toward empty, and entries whose
    # files are all gone are pruned here (the only place with the file
    # list in hand).
    live = set(man["files"])
    dropped_phys = {
        c: sorted(set(fs) & live)
        for c, fs in (man.get("dropped_columns") or {}).items()
        if set(fs) & live
    }
    for c in drop:
        dropped_phys[c] = sorted(man["files"])
        for e in (man.get("column_renames") or {}).get(c, []):
            phys_live = sorted(set(e["files"]) & live)
            if phys_live:
                dropped_phys[e["from"]] = sorted(
                    set(dropped_phys.get(e["from"], [])) | set(phys_live)
                )
    meta = _carry_schema(man, {
        "op": "drop-columns",
        "parent": man["version"],
        "dropped": sorted(drop),
        "dropped_columns": dropped_phys,
        # a dropped column's ADD-era default and RENAME eras die with
        # it (set even when empty so _carry_schema does not resurrect
        # the old maps)
        "column_defaults": {
            c: d
            for c, d in (man.get("column_defaults") or {}).items()
            if c not in drop
        },
        "column_renames": {
            c: d
            for c, d in (man.get("column_renames") or {}).items()
            if c not in drop
        },
        "column_widenings": {
            c: d
            for c, d in (man.get("column_widenings") or {}).items()
            if c not in drop
        },
    })
    meta["schema_json"] = json.dumps(
        {**schema, "fields": remaining}, sort_keys=True
    )
    # per-file stats for the dropped columns are dead weight for every
    # future planner pass — shed them in the same commit
    stats = {
        f: ({c: v for c, v in st.items() if c not in drop} if st else st)
        for f, st in (man.get("file_stats") or {}).items()
    }
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=stats,
        dv=man.get("dv"),
        bloom=bloom,
    )
    return read_manifest(table_dir)


def mtable_overwrite_partitions(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    max_collect_keys: int = DEFAULT_MAX_COLLECT_KEYS,
    expected_version: int | None = None,
    retries: int = 0,
) -> dict:
    """DYNAMIC PARTITION OVERWRITE (Hive ``INSERT OVERWRITE ...
    PARTITION`` / Delta ``replaceWhere`` / Spark's own
    ``partitionOverwriteMode=dynamic``, round 16): atomically replace
    exactly the partition values PRESENT IN ``df`` with ``df``'s rows,
    in ONE commit — the daily-reprocess primitive (recompute one date,
    swap it in; readers see either the old day or the new day, never a
    mix, and time travel keeps the old day until vacuum).

    Planning is the delete planner verbatim with the PARTITION COLUMNS
    as the key set: current-spec files prune by their path-borne [v,v]
    stats (foreign partitions refuted before any footer read), and
    old-spec files — where the partition column is data bytes and one
    file can interleave many values — are rewritten MINUS the
    overwritten values, so their foreign rows survive (wholesale
    removal would silently drop them; pinned in tests). The fresh rows
    land through the optimized partitioned writer. Publishes through
    the rebase path: the key box is the overwritten values' range, so
    a concurrent writer that touched OTHER partitions rebases past us
    while one that added rows INTO an overwritten partition conflicts
    (under a serial order those rows must not survive the overwrite).

    ``df`` must match the recorded table schema (overwrite never
    evolves it — a reprocess writing a different shape is a bug, not a
    migration), and an EMPTY ``df`` is refused loudly (it names no
    partitions; use ``mtable_delete`` keyed on the partition columns
    to drop one)."""
    def _once() -> dict:
        man = read_manifest(table_dir)
        _check_expected(man, expected_version, table_dir)
        pby = man.get("partition_by")
        if not pby:
            raise ValueError(
                "mtable_overwrite_partitions: the table has no partition "
                "spec — overwrite-by-partition needs one (mtable_create "
                "partition_by=... or mtable_set_partitioning)"
            )
        sj = man.get("schema_json")
        if sj is not None:
            want = T.StructType.fromJson(json.loads(sj))
            wmap = {f.name: f.dataType for f in want.fields}
            hmap = {f.name: f.dataType for f in df.schema.fields}
            missing = sorted(wmap.keys() - hmap.keys())
            extra = sorted(hmap.keys() - wmap.keys())
            clash = sorted(
                n for n in wmap.keys() & hmap.keys() if wmap[n] != hmap[n]
            )
            if missing or extra or clash:
                raise ValueError(
                    "mtable_overwrite_partitions: the dataframe must match "
                    f"the recorded table schema exactly (missing={missing}, "
                    f"extra={extra}, type_clash={clash}); overwrite never "
                    "evolves the schema"
                )
            ordered = df.select(*[f.name for f in want.fields])
        else:
            ordered = df
        checks = man.get("checks") or {}
        # ONE materialization serves the validation aggregate, the
        # distinct value set, the survivor anti-join probe side and the
        # fresh-rows write (same discipline as merge's updates.persist —
        # without it the fold below would ADD a scan of the batch)
        ordered.persist()
        vals = ordered.select(*pby).distinct().persist()
        # NULL is a partition (__HIVE_DEFAULT_PARTITION__), and unlike
        # merge/delete's equi-keys it is a legitimate overwrite target.
        # The standard planner refuses NULL keys, so null-bearing value
        # tuples plan SEPARATELY and conservatively: any file whose
        # recorded stats cannot refute nulls on some partition column
        # (stat None/missing = unprunable) is read and rewritten.
        #
        # ONE validation aggregate (r17 commit-floor fold) carries the
        # CHECK-constraint counts, both distinct-value-tuple counts
        # (null-bearing and not), and the non-null key box the planner
        # and the rebase conflict check need — it replaces the separate
        # checks pass, null count, and planner aggregate (three driver
        # round-trips → one).
        null_cond = F.lit(False)
        for c in pby:
            null_cond = null_cond | F.col(c).isNull()
        ck_names = sorted(checks)
        vrow = _plan_no_aqe(ordered.agg(
            F.count_distinct(F.when(null_cond, F.struct(*pby))).alias("__nv"),
            F.count_distinct(F.when(~null_cond, F.struct(*pby))).alias("__nn"),
            *[
                m
                for c in pby
                for m in (
                    F.min(F.when(~null_cond, F.col(c))).alias(f"__mn_{c}"),
                    F.max(F.when(~null_cond, F.col(c))).alias(f"__mx_{c}"),
                )
            ],
            *[
                F.sum(F.when(~F.expr(checks[n]), 1).otherwise(0)).alias(
                    f"__ck_{i}"
                )
                for i, n in enumerate(ck_names)
            ],
        )).collect()[0]
        bad = {
            n: int(vrow[f"__ck_{i}"])
            for i, n in enumerate(ck_names)
            if vrow[f"__ck_{i}"]
        }
        if bad:
            vals.unpersist()
            ordered.unpersist()
            detail = ", ".join(
                f"{n!r} ({checks[n]}): {c} row(s)" for n, c in bad.items()
            )
            raise ValueError(
                f"mtable overwrite-partitions: CHECK constraint violation — "
                f"{detail}; the batch was refused and no version was "
                "committed"
            )
        n_null_vals = vrow["__nv"]
        n_nn = vrow["__nn"]
        if n_null_vals + n_nn == 0:
            vals.unpersist()
            ordered.unpersist()
            raise ValueError(
                "mtable_overwrite_partitions: the dataframe is "
                "empty — it names no partition values to overwrite"
            )
        vals_nn = vals.where(~null_cond)
        vals_local = False
        if n_null_vals + n_nn <= _LOCAL_KDF_MAX:
            # the distinct value-tuple set is bounded (and about to be
            # collected by the planner anyway) — materialize it ONCE
            # and rebuild both the planner input and the anti-join
            # build side as LocalRelations: the planner's key collect
            # and the anti-join's broadcast build become job-free (r18)
            vrows = _plan_no_aqe(vals).collect()
            local_vals = _local_df(spark, vrows, vals.schema)
            local_nn = _local_df(
                spark,
                [r for r in vrows if not any(r[c] is None for c in pby)],
                vals.schema,
            )
            if local_vals is not None and local_nn is not None:
                vals.unpersist()
                vals = local_vals
                vals_nn = local_nn
                vals_local = True
        null_matched: list[str] = []
        if n_null_vals:
            stats = man.get("file_stats") or {}
            null_matched = [
                f
                for f in man["files"]
                if any((stats.get(f) or {}).get(c) is None for c in pby)
            ]
        kdf0 = None
        try:
            if n_nn == 0:
                matched0: list[str] = []
                path, key_box = "collect", {}
            else:
                box = {
                    c: (vrow[f"__mn_{c}"], vrow[f"__mx_{c}"]) for c in pby
                }
                matched0, _untouched0, n_nn, kdf0, path, key_box = (
                    _plan_matched_files(
                        spark, table_dir, man, vals_nn, pby, max_collect_keys,
                        "mtable_overwrite_partitions: the dataframe is "
                        "empty — it names no partition values to overwrite",
                        precounted=(n_nn, box),
                        # vals_nn filters an already-distinct value set
                        keys_distinct=True,
                        batch_local=vals_local,
                    )
                )
        except Exception:
            vals.unpersist()
            ordered.unpersist()
            raise
        matched = sorted(set(matched0) | set(null_matched))
        untouched = [f for f in man["files"] if f not in set(matched)]
        n_keys = n_nn + n_null_vals
        if n_null_vals:
            key_box = {}  # a NULL target has no provable range: any
            # winner-added file conservatively conflicts on rebase
        kdf = vals
        new_files: list[str] = []
        try:
            if matched:
                old = _read_files(spark, table_dir, matched, man)
                # NULL-SAFE anti-join: a NULL partition value IS a
                # partition (__HIVE_DEFAULT_PARTITION__) and overwriting
                # it must replace the old NULL rows — a plain column-
                # name anti-join never matches on NULL, silently keeping
                # stale rows beside the fresh ones
                kalias = kdf.select(
                    *[F.col(c).alias(f"__ow_{c}") for c in pby]
                )
                if n_keys <= max_collect_keys:
                    kalias = F.broadcast(kalias)
                cond = None
                for c in pby:
                    eq = old[c].eqNullSafe(F.col(f"__ow_{c}"))
                    cond = eq if cond is None else cond & eq
                survivors = old.join(kalias, cond, "left_anti")
                # write unconditionally (r17): the writer drops zero-row
                # part files, so a no-survivor rewrite contributes no
                # files — the probe job it replaced cost the same scan
                new_files += _new_data_files(
                    table_dir, survivors, partition_by=pby,
                    root=man.get("partition_root", "data-parts"),
                )
            new_files += _new_data_files(
                table_dir, ordered, partition_by=pby,
                root=man.get("partition_root", "data-parts"),
            )
        finally:
            kdf.unpersist()
            ordered.unpersist()
            if kdf0 is not None:
                kdf0.unpersist()
        _publish_or_rebase(
            spark, table_dir, man,
            loser_removed=set(matched),
            loser_read=set(matched),
            loser_added=new_files,
            loser_dv_added={},
            meta=_carry_schema(man, {
                "op": "overwrite-partitions",
                "parent": man["version"],
                "keys": pby,
                "n_partition_values": n_keys,
                "files_replaced": len(matched),
                "files_untouched": len(untouched),
                "key_match_path": path,
            }),
            key_box=key_box,
            allow_rebase=expected_version is None,
        )
        return read_manifest(table_dir)

    return _retrying(_once, table_dir, retries, expected_version)


def mtable_set_partitioning(
    spark: SparkSession,
    table_dir: str,
    partition_by: str | list[str] | None,
) -> dict:
    """PARTITION-SPEC EVOLUTION as a metadata-only commit (the Iceberg
    spec-evolution move — a table that outgrew its partitioning, e.g.
    the classic daily→hourly migration, changes spec WITHOUT a data
    rewrite): no byte of data moves; the commit only records the new
    spec and a fresh partition root (``data-parts-s<N>``) for files
    written FROM NOW ON. Old files keep living under the root — and
    the directory structure — of the spec they were written with:

    * planning prunes each file under its OWN spec, because partition
      values were persisted per-file as exact ``[v, v]`` stats at
      write time (spec-agnostic by construction);
    * reads group files by root (``_spec_groups``) with one
      ``basePath`` per spec, so path-borne columns re-attach under the
      right structure and the groups union by name — a column that is
      path-borne under one spec is plain data bytes under the other,
      so every group carries the full schema;
    * ``mtable_compact`` rewrites under the CURRENT spec, so routine
      maintenance migrates old files incrementally — spec evolution
      plus compaction is the rebuild, amortized.

    Pass None (or []) to departition: subsequent writes land as plain
    ``data-*`` files. Setting the spec the table already has is
    refused (a no-op commit masking a typo'd column list)."""
    man = read_manifest(table_dir)
    pcols = _as_keys(partition_by) if partition_by else None
    if pcols:
        if not man.get("schema_json"):
            raise ValueError(
                "mtable_set_partitioning: table has no recorded schema "
                "(legacy manifest) — partition columns cannot be typed"
            )
        names = {
            f["name"] for f in json.loads(man["schema_json"])["fields"]
        }
        missing = [c for c in pcols if c not in names]
        if missing:
            raise ValueError(
                f"mtable_set_partitioning: columns {missing} not in the "
                "table schema"
            )
    if pcols == man.get("partition_by"):
        raise ValueError(
            f"mtable_set_partitioning: table already has spec {pcols} — "
            "nothing to change"
        )
    spec_id = int(man.get("partition_spec_id", 0)) + 1
    meta = _carry_schema(man, {
        "op": "set-partitioning",
        "parent": man["version"],
    })
    # AFTER the carry: _carry_schema re-copies the old spec, which is
    # exactly what this commit replaces
    meta["partition_spec_id"] = spec_id
    if pcols:
        meta["partition_by"] = pcols
        meta["partition_root"] = f"data-parts-s{spec_id}"
    else:
        meta.pop("partition_by", None)
        meta.pop("partition_root", None)
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=man.get("file_stats"),
        dv=man.get("dv"),
        bloom=man.get("bloom"),
    )
    return read_manifest(table_dir)


def mtable_create(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    bloom_keys: list[str] | None = None,
    bloom_bits: int = _BLOOM_DEFAULT_BITS,
    partition_by: list[str] | None = None,
    checks: dict[str, str] | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """Create version 0 from ``df``. ``bloom_keys`` opts the table into
    per-file key bloom filters (see the bloom section above): every
    committing writer from then on hashes its NEW files' key tuples
    into bitset sidecars, and bounded-key merge/delete planning skips
    range-matched files the bloom refutes.

    ``partition_by`` opts into a HIVE-STYLE PARTITION SPEC (round 14 —
    SURVEY §1.3's date-partitioned layout, composable with the stats/
    bloom pruning): data files land under a shared
    ``data-parts/col=value/...`` tree, every commit's writer moves its
    staged files in (immutable, uniquely-named), and each file's
    partition values persist into its manifest stats as exact
    ``[v, v]`` ranges — so merge/delete planning prunes on a partition
    key BEFORE any footer or bloom is consulted, with zero new planner
    code, and ``mtable_read`` scans carry real Spark
    ``PartitionFilters`` (directory pruning) for ad-hoc predicates on
    the partition columns. Pick coarse, low-cardinality columns (a
    date, a source tag): one directory per distinct value."""
    os.makedirs(table_dir, exist_ok=True)
    _enforce_checks(df, checks, "create")
    if partition_by:
        pcols = _as_keys(partition_by)
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(
                f"mtable_create: partition_by columns {missing} not in the "
                "dataframe schema"
            )
        partition_by = pcols
    files = _new_data_files(table_dir, df, partition_by=partition_by)
    if not files:
        # zero-row writes produce zero files since round 15's
        # empty-part pruning; a zero-file version 0 would be a table
        # every read refuses — fail at the only informative moment
        raise ValueError(
            "mtable_create: the dataframe is empty — a manifest table "
            "needs at least one row (create it from the first real batch, "
            "or seed it with a sentinel row you later delete)"
        )
    meta = {"op": "create", "schema_json": df.schema.json()}
    if partition_by:
        meta["partition_by"] = partition_by
    if checks:
        meta["checks"] = dict(sorted(checks.items()))
    if extra_meta:
        reserved = set(meta) | {
            "version", "files", "file_stats", "dv", "bloom", "committed_at",
            "parent", "epochs", "epoch_watermark", "partition_root",
        }
        bad = reserved & set(extra_meta)
        if bad:
            raise ValueError(
                f"mtable_create: extra_meta keys {sorted(bad)} collide with "
                "reserved manifest metadata"
            )
        meta.update(extra_meta)
    bloom = None
    if bloom_keys:
        if bloom_bits & (bloom_bits - 1):
            raise ValueError("mtable_create: bloom_bits must be a power of two")
        bloom = {"keys": _as_keys(bloom_keys), "bits": bloom_bits}
        # data files exist on disk before the manifest publishes, so
        # the bitsets build first and the commit stays a single rename
        bloom["files"] = _bloom_build(
            spark, table_dir, files,
            {"schema_json": meta["schema_json"],
             **({"partition_by": partition_by} if partition_by else {})},
            bloom,
        )
    _write_manifest(
        table_dir, 0, files, meta,
        file_stats=_stats_for(
            table_dir, files,
            partition_by=partition_by, schema_json=meta["schema_json"],
        ),
        bloom=bloom,
    )
    return read_manifest(table_dir)


def _new_dv_file(table_dir: str, df: DataFrame) -> str:
    """Write one deletion-vector parquet (``file`` = data-file
    basename, ``pos`` = row index within that file) under a unique
    ``dv-`` subdirectory; return its table-relative path. One small
    file per delete commit — the DV is the whole point of merge-on-
    read (a delete's write cost is O(deleted rows), not O(matched
    files' bytes)), so it never needs parallel write bandwidth."""
    sub = f"dv-{uuid.uuid4().hex}"
    out = os.path.join(table_dir, sub)
    df.coalesce(1).write.parquet(out)
    names = [f for f in os.listdir(out) if f.endswith(".parquet")]
    return os.path.join(sub, names[0])


def _dv_paths(man: dict, files: list[str]) -> list[str]:
    """Deletion-vector files shadowing any of ``files`` under this
    manifest (deduped: one DV file can carry positions for several
    data files)."""
    dvmap = man.get("dv") or {}
    return sorted({d for f in files for d in dvmap.get(f, [])})


def _read_dv(spark: SparkSession, table_dir: str, dv_files: list[str]) -> DataFrame:
    return spark.read.schema("file string, pos long").parquet(
        *[os.path.join(table_dir, d) for d in dv_files]
    )


def _read_dv_local(
    spark: SparkSession, table_dir: str, dv_files: list[str]
) -> DataFrame | None:
    """The DV sidecars as a DRIVER-BUILT LocalRelation when their
    decompressed estimate fits the same 32 MB gate the broadcast
    decision uses (footer row counts × 128 B/row — driver metadata
    reads, no job): a BroadcastExchange over a local table collects
    driver-side, so every DV anti-/semi-join build costs ZERO Spark
    jobs instead of a scan job + a broadcast-build job per read (r17
    second pass). Returns ``None`` when the shadow is oversized or any
    sidecar is unreadable — callers fall back to the executor-side
    scan, which is always correct."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        paths = [os.path.join(table_dir, f) for f in dv_files]
        dv_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        if dv_rows * 128 > 32 << 20:
            return None
        tbl = pa.concat_tables(
            pq.read_table(p, columns=["file", "pos"]) for p in paths
        )
        return spark.createDataFrame(
            tbl.to_pandas(), "file string, pos long"
        )
    except Exception:
        return None


def _spec_groups(files: list[str]) -> list[tuple[str | None, list[str]]]:
    """Group data files by the PARTITION ROOT they were written under —
    the first path segment when any later segment is a hive
    ``col=value`` pair, else None (plain unpartitioned ``data-*``
    dirs). Partition-spec evolution gives each spec its own root
    (``data-parts``, then ``data-parts-s<N>``), so a group is exactly
    "files sharing one directory structure": each group reads with its
    own ``basePath`` and Spark never sees conflicting structures."""
    groups: dict = {}
    for f in files:
        segs = f.split(os.sep)
        root = segs[0] if any("=" in s for s in segs[1:-1]) else None
        groups.setdefault(root, []).append(f)
    return sorted(groups.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))


def _default_fills_for(man: dict, files: list[str]) -> dict[str, dict]:
    """The ADD-COLUMN defaults applicable to THIS read: column →
    {"type", "default", "files": era files ∩ files being read}. Era
    lists only reference files that existed at add time, so any
    rewrite shrinks the intersection toward empty."""
    out = {}
    fset = set(files)
    for c, d in (man.get("column_defaults") or {}).items():
        hit = set(d["files"]) & fset
        if hit:
            out[c] = {**d, "files": hit}
    return out


def _scan_with_pos(
    spark: SparkSession,
    table_dir: str,
    files: list[str],
    man: dict,
    dv_man: dict | None = None,
) -> DataFrame:
    """Schema-declared scan of ``files`` carrying ``_mt_file`` (data-
    file basename) and ``_mt_pos`` (row index within the file) from
    the parquet reader's hidden ``_metadata`` column, with any
    deletion vectors recorded for those files (in ``dv_man``, default
    the same manifest) already anti-joined out. Basenames are the DV
    join key: every data file's name embeds a write-job UUID, so they
    never collide across the table's subdirectories. The metadata
    columns must be projected ON the scan (they don't survive a
    join), which is why this helper exists instead of a post-hoc
    ``withColumn``.

    Files are scanned in one group PER PARTITION ROOT (``_spec_groups``
    — partition-spec evolution leaves each file under the root of the
    spec it was written with): every group gets its own ``basePath``
    so Spark's partition discovery never sees mixed directory
    structures, a file's path-borne partition values re-attach under
    its OWN spec, and the groups union by name under the one recorded
    table schema (a column that is path-borne in one spec is plain
    data bytes in the other, so both sides always carry it)."""
    sj = man.get("schema_json")
    if not files:
        # reachable via a fully-deleted snapshot (every file dropped by
        # a CoW delete) — with a recorded schema the right answer is an
        # EMPTY frame of that shape, never parts[0]'s bare IndexError
        if sj is None:
            raise ValueError(
                f"mtable at {table_dir}: cannot scan an empty file list "
                "without a recorded table schema (legacy manifest)"
            )
        schema = T.StructType.fromJson(json.loads(sj))
        schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_mt_file", T.StringType()),
                T.StructField("_mt_pos", T.LongType()),
            ]
        )
        return spark.createDataFrame([], schema)
    renames = _rename_eras_for(man, files)
    widens = _widen_eras_for(man, files)
    declared = (
        {f["name"]: f["type"] for f in json.loads(sj)["fields"]}
        if sj is not None
        else {}
    )
    parts = []
    for root, fs in _spec_groups(files):
        # pre-rename/pre-widen files store their bytes under an old
        # PHYSICAL name/type: each era scans under its own patched
        # schema, then renames and widen-casts after the scan (both are
        # plan-level — they cannot be per-row conditionals the way the
        # default fill below can)
        by_sig: dict[tuple, list[str]] = {}
        for f in fs:
            key = (_file_rename_sig(renames, f), _file_widen_sig(widens, f))
            by_sig.setdefault(key, []).append(f)
        for sig, wsig in sorted(by_sig):
            sub_fs = by_sig[(sig, wsig)]
            sub_sj = (
                _patched_schema_json(sj, sig, wsig)
                if sj is not None and (sig or wsig)
                else sj
            )
            reader = (
                spark.read.schema(T.StructType.fromJson(json.loads(sub_sj)))
                if sub_sj is not None
                else spark.read
            )
            if root is not None:
                # partition columns live in the directory names under
                # this spec's shared root; basePath re-attaches them
                # (and gives Spark real PartitionFilters on any
                # downstream predicate)
                reader = reader.option(
                    "basePath", os.path.join(table_dir, root)
                )
            # Spark appends inferred partition columns LAST; project the
            # recorded schema's column order (in the SAME select that
            # grabs the scan-only _metadata pseudo-column) for one
            # stable shape
            cols = (
                [f["name"] for f in json.loads(sub_sj)["fields"]]
                if root is not None and sub_sj is not None
                else ["*"]
            )
            part = reader.parquet(
                *[os.path.join(table_dir, f) for f in sub_fs]
            ).select(
                *cols,
                F.col("_metadata.file_name").alias("_mt_file"),
                F.col("_metadata.row_index").alias("_mt_pos"),
            )
            for newc, phys in sig:
                part = part.withColumnRenamed(phys, newc)
            for c, _from in wsig:
                part = part.withColumn(
                    c, F.col(c).cast(_dt_from_json(declared[c]))
                )
            parts.append(part)
    df = parts[0]
    for extra in parts[1:]:
        df = df.unionByName(extra)
    # era-correct ADD COLUMN defaults: this scan carries _mt_file, so
    # the fill is a per-row basename test instead of an era re-grouping
    for c, d in _default_fills_for(man, files).items():
        bn = sorted({os.path.basename(f) for f in d["files"]})
        df = df.withColumn(
            c,
            F.when(
                F.col("_mt_file").isin(bn),
                F.lit(d["default"]).cast(d["type"]),
            ).otherwise(F.col(c)),
        )
    dv_files = _dv_paths(dv_man if dv_man is not None else man, files)
    if dv_files:
        # DVs are tiny by design (O(deleted rows since last compaction))
        # — but "tiny" is a policy, not a law: a table whose operator
        # never compacts can accumulate an arbitrarily large shadow,
        # and broadcasting that unconditionally is a driver/executor
        # OOM. Gate on a DECOMPRESSED estimate, not on-disk bytes:
        # sorted positional deletes (repeated file basenames + monotone
        # positions) RLE-compress ~100× in parquet, so a sidecar set
        # just under an on-disk gate could inflate to hundreds of MB
        # per executor once materialized in the broadcast relation.
        # Row counts come from the parquet footers (driver metadata
        # reads, no job); each row is costed at 128 B — basename string
        # (~45 chars of UTF8String), a long, and hash-relation overhead.
        # Small shadows broadcast; oversized or unreadable ones fall
        # back to a plain shuffled anti-join (correct either way;
        # compaction is the fix, the read path must merely survive).
        local = _read_dv_local(spark, table_dir, dv_files)
        if local is not None:
            # gate passed → the shadow fits driver memory by the same
            # estimate the broadcast relied on, and it is already a
            # LocalRelation: the anti-join's broadcast build collects
            # driver-side, ZERO Spark jobs (was a scan job + a
            # broadcast-build job per DV-bearing read)
            dead = F.broadcast(
                local.withColumnsRenamed(
                    {"file": "_mt_file", "pos": "_mt_pos"}
                )
            )
        else:
            # oversized/unreadable shadow: executor-side scan, and force
            # sort-merge — Catalyst's OWN sizeInBytes estimate is the
            # compressed file size, so without the hint it would
            # re-introduce the very auto-broadcast the gate refused
            dead = _read_dv(spark, table_dir, dv_files).withColumnsRenamed(
                {"file": "_mt_file", "pos": "_mt_pos"}
            ).hint("merge")
        df = df.join(dead, ["_mt_file", "_mt_pos"], "left_anti")
    return df


def _read_files(
    spark: SparkSession,
    table_dir: str,
    files: list[str],
    man: dict,
    dv_man: dict | None = None,
) -> DataFrame:
    """Read a file subset UNDER THE TABLE SCHEMA the manifest records:
    after a schema evolution, pre-evolution files lack the new columns
    and the parquet reader null-fills them against the declared schema
    — O(1) on the driver, unlike ``mergeSchema`` (which re-reads every
    footer at planning, the exact cost the persisted file stats
    eliminated). Legacy manifests without a recorded schema read
    plain. Files shadowed by deletion vectors (merge-on-read deletes)
    read through the position anti-join; tables without DVs keep the
    bare scan — zero plan overhead on the common path."""
    if not files:
        # a fully-deleted CoW snapshot (or a caller slicing zero churned
        # files) must read as an EMPTY frame under the recorded schema,
        # not crash on parts[0] below
        sj = man.get("schema_json")
        if sj is None:
            raise ValueError(
                f"mtable at {table_dir}: cannot read an empty file list "
                "without a recorded table schema (legacy manifest)"
            )
        schema = T.StructType.fromJson(json.loads(sj))
        # a true LocalRelation (r18): unions over the empty side fold
        # flat and nothing downstream pays an RDD-scan subtree for it
        empty = _local_df(spark, [], schema)
        return (
            empty
            if empty is not None
            else spark.createDataFrame([], schema)
        )
    if _dv_paths(dv_man if dv_man is not None else man, files):
        return _scan_with_pos(spark, table_dir, files, man, dv_man).drop(
            "_mt_file", "_mt_pos"
        )
    fills = _default_fills_for(man, files)
    renames = _rename_eras_for(man, files)
    widens = _widen_eras_for(man, files)
    if fills or renames or widens:
        # era-correct ADD-defaults and RENAMEs: group files by WHICH
        # added columns they predate and WHICH physical names they
        # still carry; read each era under its own (possibly patched)
        # schema, rename after the scan, overwrite the default columns
        # for that era alone — files written after the change carry
        # real bytes, including real NULLs, untouched. Era count is
        # the number of distinct alter-generations still unrewritten,
        # never O(files).
        eras: dict[tuple, list[str]] = {}
        for f in files:
            fkey = frozenset(c for c, d in fills.items() if f in d["files"])
            rkey = _file_rename_sig(renames, f)
            wkey = _file_widen_sig(widens, f)
            eras.setdefault((fkey, rkey, wkey), []).append(f)
        if set(eras) != {(frozenset(), (), ())}:
            declared = {
                f["name"]: f["type"]
                for f in json.loads(man["schema_json"])["fields"]
            }
            parts = []
            for key in sorted(eras, key=lambda k: (sorted(k[0]), k[1], k[2])):
                fkey, rkey, wkey = key
                sub_man = {
                    **man,
                    "column_defaults": None,
                    "column_renames": None,
                    "column_widenings": None,
                }
                if rkey or wkey:
                    sub_man["schema_json"] = _patched_schema_json(
                        man["schema_json"], rkey, wkey
                    )
                sub = _read_files(
                    spark, table_dir, eras[key], sub_man, dv_man
                )
                for newc, phys in rkey:
                    # rename in place keeps the declared position
                    sub = sub.withColumnRenamed(phys, newc)
                for c, _from in wkey:
                    # widen-cast in place (exact by _SAFE_WIDENINGS)
                    sub = sub.withColumn(
                        c, F.col(c).cast(_dt_from_json(declared[c]))
                    )
                for c in sorted(fkey):
                    d = fills[c]
                    # withColumn keeps the declared position (the added
                    # column is in the recorded schema on every era)
                    sub = sub.withColumn(
                        c, F.lit(d["default"]).cast(d["type"])
                    )
                parts.append(sub)
            out = parts[0]
            for extra in parts[1:]:
                out = out.unionByName(extra)
            return out
    sj = man.get("schema_json")
    parts = []
    for root, fs in _spec_groups(files):
        reader = (
            spark.read
            if sj is None
            else spark.read.schema(T.StructType.fromJson(json.loads(sj)))
        )
        paths = [os.path.join(table_dir, f) for f in fs]
        if root is not None:
            reader = reader.option("basePath", os.path.join(table_dir, root))
            if sj is not None:
                # restore the recorded column order (Spark appends the
                # inferred partition columns last)
                parts.append(
                    reader.parquet(*paths).select(
                        *[f["name"] for f in json.loads(sj)["fields"]]
                    )
                )
                continue
        parts.append(reader.parquet(*paths))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def mtable_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read one VERSION's consistent file list (latest by default),
    under that version's recorded schema (see ``_read_files``). Time
    travel = pass an older ``version``, or ``as_of`` (epoch seconds —
    resolves the newest version committed at or before it); its files
    are immutable, so the read is reproducible until a vacuum drops
    that version."""
    if as_of is not None:
        if version is not None:
            raise ValueError("mtable_read: pass version OR as_of, not both")
        version = version_as_of(table_dir, as_of)
    man = read_manifest(table_dir, version)
    if not man["files"]:
        raise ValueError(f"mtable at {table_dir} v{man['version']} lists no files")
    return _read_files(spark, table_dir, man["files"], man)


def _skip_files(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    where: dict,
) -> tuple[list[str], int, int]:
    """The data-skipping core: files of ``man`` surviving the bound
    spec ``where`` ({col: point | (lo, hi)}; None = open bound), plus
    how many the stats refuted and how many the blooms refuted.
    Stats pruning is driver-only metadata (zero jobs, zero data I/O);
    a file with None/missing stats on a column is unprunable on it —
    matched, read, never skipped (the same conservatism as write-side
    planning). Bloom refutation applies only when every bloom key
    column is bound to an exact point — the point lookup on an
    UNCLUSTERED table, where every file's range covers everything and
    only the bitsets can skip."""
    norm = _normalize_bounds(where)
    stats = man.get("file_stats") or {}
    kept = []
    for f in man["files"]:
        st = stats.get(f)
        refuted = False
        for c, spec in norm.items():
            r = (st or {}).get(c)
            if r is None:
                continue
            try:
                if spec[0] == "in":
                    refuted = all(
                        (r[0] is not None and v < r[0])
                        or (r[1] is not None and v > r[1])
                        for v in spec[1]
                    )
                else:
                    _tag, lo, hi = spec
                    refuted = (
                        hi is not None and r[0] is not None and r[0] > hi
                    ) or (lo is not None and r[1] is not None and r[1] < lo)
                if refuted:
                    break
            except TypeError:
                refuted = False  # incomparable renderings: unprovable, keep
        if not refuted:
            kept.append(f)
    n_stats = len(man["files"]) - len(kept)
    n_bloom = 0
    bloom = man.get("bloom")
    sj = man.get("schema_json")
    if bloom and kept and sj is not None:
        bkeys = bloom["keys"]

        def _points(c):
            spec = norm.get(c)
            if spec is None:
                return None
            if spec[0] == "in":
                return None if any(v is None for v in spec[1]) else spec[1]
            _tag, lo, hi = spec
            return [lo] if (lo is not None and lo == hi) else None

        per_col = [_points(c) for c in bkeys]
        n_tuples = 1
        for pts in per_col:
            n_tuples *= len(pts) if pts is not None else 0
        if all(p is not None for p in per_col) and 0 < n_tuples <= 256:
            import itertools

            full = T.StructType.fromJson(json.loads(sj))
            schema = T.StructType([full[c] for c in bkeys])
            kdf = spark.createDataFrame(
                [tuple(t) for t in itertools.product(*per_col)], schema
            )
            kept, n_bloom = _bloom_prune(
                spark, table_dir, man, kdf, bkeys, kept
            )
    return kept, n_stats, n_bloom


def _normalize_bounds(where: dict) -> dict:
    """Bound-spec normalization shared by pruning and the residual
    filter: scalar → ("range", v, v); (lo, hi) tuple → ("range", lo,
    hi); list/set → ("in", values) — the multi-key point-lookup shape.
    None inside an IN-list is refused (NULL never equi-matches; an
    accidental None would make the residual filter silently drop what
    the caller thought they asked for)."""
    norm = {}
    for c, rng in where.items():
        if isinstance(rng, (list, set, frozenset)):
            if any(v is None for v in rng):
                raise ValueError(
                    f"mtable read pruning: None inside the IN-list for "
                    f"{c!r} — NULL never equi-matches a row"
                )
            vals = sorted(rng)
            if not vals:
                raise ValueError(
                    f"mtable read pruning: empty IN-list for {c!r}"
                )
            norm[c] = ("in", vals)
        else:
            lo, hi = rng if isinstance(rng, tuple) else (rng, rng)
            norm[c] = ("range", lo, hi)
    return norm


def mtable_read_pruned(
    spark: SparkSession,
    table_dir: str,
    where: dict,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """DATA-SKIPPING READ (the Delta/Iceberg data-skipping move, round
    16): ``mtable_read`` restricted by simple column bounds —
    ``where`` maps column → exact point, ``(lo, hi)`` range (None =
    open bound), or a list/set of points (IN-list — the multi-key
    lookup) — with files pruned AT PLANNING TIME from the
    manifest-persisted per-file stats the writers already maintain.
    Until now those stats pruned only the WRITE side (merge/delete
    planning); a clustered 100 TB table answering a point or range
    query was still scheduling a scan task per file. This read skips
    every file whose recorded [min, max] provably refutes a bound
    (driver metadata only — zero jobs before the surviving scan), adds
    per-file BLOOM refutation when the bounds fix the table's bloom
    key tuple to an exact point (the unclustered point-lookup case
    range stats cannot help), and applies the residual predicate to
    the survivors — pruning is an optimization, never a semantics
    change (result ≡ the unpruned filtered read, pinned in tests and
    by the declared query's oracle). Composes with time travel
    (``version=`` / ``as_of=``) and reads DV-shadowed files through
    the usual anti-join."""
    if as_of is not None:
        if version is not None:
            raise ValueError("mtable_read_pruned: pass version OR as_of, not both")
        version = version_as_of(table_dir, as_of)
    man = read_manifest(table_dir, version)
    if not man["files"]:
        raise ValueError(
            f"mtable at {table_dir} v{man['version']} lists no files"
        )
    kept, _n_stats, _n_bloom = _skip_files(spark, table_dir, man, where)
    df = _read_files(spark, table_dir, kept, man)
    for c, spec in _normalize_bounds(where).items():
        if spec[0] == "in":
            df = df.where(F.col(c).isin(spec[1]))
            continue
        _tag, lo, hi = spec
        if lo is not None and lo == hi:
            df = df.where(F.col(c) == F.lit(lo))
        else:
            if lo is not None:
                df = df.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(c) <= F.lit(hi))
    return df


def _evolve_schema(
    table_schema: T.StructType | None,
    updates: DataFrame,
    schema_evolution: bool,
    op: str,
    man: dict | None = None,
) -> str | None:
    """Reconcile the update batch's schema against the table's.
    Identical column sets (order-insensitive, exact type match) pass
    through. With ``schema_evolution=True``, NEW update columns append
    to the table schema (pre-evolution rows/files null-fill through
    the schema-declared read) and update-batch-MISSING table columns
    null-fill on the replaced rows (replace semantics: the batch row
    is the whole new row). Type changes are always refused — implicit
    cast drift is how tables rot. Returns the evolved schema json (or
    None if the table has no recorded schema — legacy manifests don't
    evolve)."""
    if table_schema is None:
        return None
    tmap = {f.name: f.dataType for f in table_schema.fields}
    umap = {f.name: f.dataType for f in updates.schema.fields}
    clash = sorted(
        n for n in tmap.keys() & umap.keys() if tmap[n] != umap[n]
    )
    if clash:
        raise ValueError(
            f"{op}: update batch changes column TYPES {clash} "
            f"(table vs batch: "
            f"{[(n, tmap[n].simpleString(), umap[n].simpleString()) for n in clash]}); "
            "schema evolution adds columns, never mutates types — migrate "
            "explicitly (session.migrate_table)"
        )
    new = [n for n in updates.columns if n not in tmap]
    if new and man is not None:
        # name-collision guards mirroring mtable_add_columns (ADVICE
        # r17): a live RENAME era's physical name would make
        # _patched_schema_json emit two identically-named fields for
        # pre-rename files (ambiguous reads of every untouched era
        # file), and a live DROPPED name's old bytes would resurrect
        # through the schema-declared read. Both refuse loudly here —
        # use mtable_add_columns (which records a masking era) or
        # compact first.
        live = set(man.get("files") or [])
        live_phys = {
            e["from"]
            for eras in (man.get("column_renames") or {}).values()
            for e in eras
            if set(e["files"]) & live
        }
        bad_phys = sorted(set(new) & live_phys)
        if bad_phys:
            raise ValueError(
                f"{op}: new column(s) {bad_phys} collide with the PHYSICAL "
                "name of a rename era some live files still carry — "
                "pre-rename files would scan with two identically-named "
                "fields; compact first or pick another name"
            )
        dropped_live = {
            c
            for c, fs in (man.get("dropped_columns") or {}).items()
            if set(fs) & live
        }
        bad_drop = sorted(set(new) & dropped_live)
        if bad_drop:
            raise ValueError(
                f"{op}: new column(s) {bad_drop} were previously DROPPED "
                "and live files still physically carry their pre-drop "
                "bytes — a schema-evolution re-add would resurrect them; "
                "re-add via mtable_add_columns (which masks the old bytes "
                "with a NULL-default era) or compact first"
            )
    missing = sorted(tmap.keys() - umap.keys())
    if (new or missing) and not schema_evolution:
        raise ValueError(
            f"{op}: update batch schema differs from the table "
            f"(new columns {new}, absent table columns {missing}); pass "
            "schema_evolution=True to add the new columns (pre-evolution "
            "rows read as NULL) and null-fill the absent ones on replaced "
            "rows"
        )
    fields = list(table_schema.fields) + [
        updates.schema[n] for n in new
    ]
    return T.StructType(fields).json()


def mtable_merge(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str | list[str],
    max_collect_keys: int = DEFAULT_MAX_COLLECT_KEYS,
    expected_version: int | None = None,
    retries: int = 0,
    schema_evolution: bool = False,
    mode: str = "cow",
    deletes: DataFrame | None = None,
    extra_meta: dict | None = None,
    _prevalidated: dict | None = None,
) -> dict:
    """MERGE (upsert) ``updates`` by ``key`` (single column or
    composite list): rows whose key tuple exists are replaced, new
    tuples are inserted. Copy-on-write limited to MATCHED files (see
    ``_plan_matched_files`` — count-gated exact-key pruning under
    ``max_collect_keys`` distinct keys, driver-safe join-based file
    matching above it; key volume never bounds driver memory), only
    those files are read/anti-joined/rewritten, every untouched file
    is re-listed verbatim — stats included — in the next manifest.

    ``mode='mor'`` (merge-on-read) extends the DELETE deletion-vector
    path to the upsert: matched files are scanned once to shadow the
    REPLACED rows' positions in a tiny DV parquet, the whole update
    batch lands as fresh data files, and NO matched file is rewritten
    — write cost is O(batch), so a trickle of daily upserts against
    ~1 GB files stops re-copying them (the Delta/Iceberg v2 MERGE
    write path). Readers see old copies anti-joined out and the new
    rows from the fresh files; ``mtable_compact`` materializes and
    clears the shadow. Read-amplification is the trade: prefer 'cow'
    for read-hot tables, 'mor' for write-hot ones.

    ``schema_evolution=True`` lets the batch ADD columns (the Delta
    mergeSchema move): the manifest's recorded schema grows, readers
    null-fill pre-evolution files through the schema-declared read
    (O(1) driver cost — no mergeSchema footer sweep), untouched files
    are not rewritten, and batch-missing table columns null-fill on
    the replaced rows. A differing batch schema is otherwise refused
    loudly, and a column TYPE change is refused always (see
    ``_evolve_schema``).

    ``updates`` is persisted for the duration of the merge: the
    duplicate-key refusal, the planning scan, and the final union all
    read ONE materialization, so a nondeterministic source (sample,
    re-read stream) cannot pass the check with one set of rows and
    commit another.

    ``expected_version`` pins the snapshot this merge was planned
    against (fail fast on a stale plan); ``retries=N`` instead
    re-plans and re-attempts on commit collision — the optimistic
    loop. The manifest CAS catches the commit-time race either way:
    one winner, one loud loser.

    Returns the new manifest (also records files_rewritten /
    files_untouched / key_match_path so the no-table-rewrite property
    and the chosen pruning strategy are observable).

    ``deletes`` (a DataFrame carrying the key columns) extends the
    upsert to the FULL ``MERGE INTO`` statement — WHEN MATCHED AND
    <in deletes> THEN DELETE — in the SAME atomic commit: replaced
    rows are replaced, fresh keys inserted, and the delete-key rows
    removed, all published as one version (the shape an incremental
    materialized-view refresh needs — changed groups upserted,
    vanished groups dropped, no torn intermediate a reader or a crash
    can observe). A key tuple in BOTH ``updates`` and ``deletes`` is
    refused loudly (which action wins is undefined in every MERGE
    dialect). Planning cost is unchanged: one planner pass over the
    UNION of the two key sets.

    ``extra_meta`` lands caller keys in the committed manifest's meta
    (reserved manifest keys refused) — the crash-safe place to record
    application watermarks (e.g. "this MV version reflects base
    version N"): the CAS that publishes the data also publishes the
    watermark, so a replay after a crash is impossible by
    construction."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mtable_merge: unknown mode {mode!r} (cow|mor)")
    keys = _as_keys(key)
    if extra_meta:
        reserved = {
            "op", "parent", "keys", "mode", "schema_json", "files_rewritten",
            "files_untouched", "n_update_keys", "n_delete_keys",
            "key_match_path", "n_replaced", "partition_by", "partition_root",
            "checks", "bloom", "version", "files", "file_stats", "dv",
            "committed_at", "epochs", "epoch_watermark",
        } & set(extra_meta)
        if reserved:
            raise ValueError(
                f"mtable_merge: extra_meta keys {sorted(reserved)} collide "
                "with reserved manifest metadata — pick application-level "
                "names"
            )

    def _once() -> dict:
        man = read_manifest(table_dir)
        _check_expected(man, expected_version, table_dir)
        tschema = (
            T.StructType.fromJson(json.loads(man["schema_json"]))
            if man.get("schema_json")
            else None
        )
        evolved_json = _evolve_schema(
            tschema, updates, schema_evolution, "mtable_merge", man
        )
        checks = man.get("checks") or {}
        # the MV refresh's local commit CERTIFIES its frames are
        # driver-built LocalRelations (r18 — an explicit flag; plan
        # sniffing costs ~25 ms of optimizer time per call on real DAG
        # batches, more than the jobs it saves)
        batch_local = bool(_prevalidated and _prevalidated.get("local_batch"))
        if not batch_local:
            updates.persist()
        dels_kdf = None
        try:
            if deletes is not None:
                missing_k = [c for c in keys if c not in deletes.columns]
                if missing_k:
                    raise ValueError(
                        f"mtable_merge: deletes is missing key column(s) "
                        f"{missing_k}"
                    )
                dels_kdf = deletes.select(*keys)
                if _prevalidated is None:
                    # a caller-supplied delete set may carry duplicate
                    # rows; the pre-validated internal path (the MV
                    # refresh) proves one row per key by construction,
                    # so its delete side skips the exchange
                    dels_kdf = dels_kdf.distinct()
                if not batch_local:
                    dels_kdf = dels_kdf.persist()

            def _merge_planned(man, evolved_json, n_keys, key_box, n_upd_keys):
                # planning + write + publish, shared by the validated and
                # pre-validated paths (r17)
                plan_batch, plan_local = None, False
                if dels_kdf is None:
                    plan_batch, plan_local = updates, batch_local
                elif batch_local:
                    # a Union of LocalRelations is NOT folded by the
                    # optimizer — stitch the key union driver-side so
                    # the planner's key frame stays a LocalRelation
                    # (job-free collect, job-free broadcast builds);
                    # collect() on a LocalRelation plan is job-free
                    ukeys = updates.select(*keys)
                    plan_batch = _local_df(
                        spark,
                        ukeys.collect() + dels_kdf.select(*keys).collect(),
                        ukeys.schema,
                    )
                    plan_local = plan_batch is not None
                if plan_batch is None:
                    plan_batch = updates.select(*keys).unionByName(dels_kdf)
                try:
                    matched, untouched, n_keys, kdf, path, key_box = (
                        _plan_matched_files(
                            spark, table_dir, man, plan_batch, keys, max_collect_keys,
                            "mtable_merge: empty update batch",
                            precounted=(n_keys, key_box),
                            batch_local=plan_local,
                            # the duplicate-key refusal proved the update
                            # keys distinct, the overlap refusal proved
                            # the sides disjoint, and the delete side is
                            # distinct (by .distinct() or by the
                            # pre-validated caller's construction) — the
                            # union needs no re-distinct
                            keys_distinct=True,
                        )
                    )
                    try:
                        dv_added: dict = {}
                        n_replaced = None
                        if matched and mode == "mor":
                            # shadow the replaced rows' positions; the batch
                            # lands whole as fresh files — zero rewrites
                            scan = _scan_with_pos(spark, table_dir, matched, man)
                            semi = F.broadcast(kdf) if n_keys <= max_collect_keys else kdf
                            doomed = (
                                scan.join(semi, keys, "left_semi")
                                .select(
                                    F.col("_mt_file").alias("file"),
                                    F.col("_mt_pos").alias("pos"),
                                )
                                .persist()
                            )
                            try:
                                # ONE per-file count collect (bounded by the
                                # matched-file count) carries both the replaced-
                                # row total and the shadowed-file set — the
                                # separate count() + distinct-file collect were
                                # two driver round-trips for the same scan (r17)
                                per_file = doomed.groupBy("file").count()
                                if n_keys <= max_collect_keys:
                                    # broadcast branch: no join strategy
                                    # left for AQE to revise
                                    per_file = _plan_no_aqe(per_file)
                                per_file = per_file.collect()
                                n_replaced = sum(r["count"] for r in per_file)
                                if n_replaced:
                                    dv_rel = _new_dv_file(table_dir, doomed)
                                    base_to_rel = {
                                        os.path.basename(f): f for f in matched
                                    }
                                    for r in per_file:
                                        dv_added.setdefault(
                                            base_to_rel[r["file"]], []
                                        ).append(dv_rel)
                            finally:
                                doomed.unpersist()
                            combined = updates
                        elif matched:
                            # matched files read under the TABLE schema, so an
                            # already-evolved table merges old-schema files
                            # without tripping the union
                            old = _read_files(spark, table_dir, matched, man)
                            anti = F.broadcast(kdf) if n_keys <= max_collect_keys else kdf
                            combined = old.join(anti, keys, "left_anti").unionByName(
                                updates, allowMissingColumns=schema_evolution
                            )
                        else:
                            combined = updates
                        if combined is updates and evolved_json is not None:
                            # align a standalone-written batch (insert-only, or
                            # any MOR batch) to the full evolved schema (absent
                            # table columns become NULL)
                            full = T.StructType.fromJson(json.loads(evolved_json))
                            have = set(updates.columns)
                            combined = updates.select(
                                *[
                                    F.col(f.name)
                                    if f.name in have
                                    else F.lit(None).cast(f.dataType).alias(f.name)
                                    for f in full.fields
                                ]
                            )
                        new_files = _new_data_files(
                            table_dir, combined, partition_by=man.get("partition_by"),
                            root=man.get("partition_root", "data-parts"),
                            # MOR and insert-only commits write the batch
                            # itself (or a foldable select over it); the
                            # CoW union with matched files is never local
                            local_batch=batch_local
                            and (mode == "mor" or not matched),
                        )
                    finally:
                        kdf.unpersist()
                finally:
                    updates.unpersist()
                    if dels_kdf is not None:
                        dels_kdf.unpersist()
                meta = {
                    "op": "merge",
                    "parent": man["version"],
                    "keys": keys,
                    "mode": mode,
                    "files_rewritten": 0 if mode == "mor" else len(matched),
                    "files_untouched": len(untouched),
                    "n_update_keys": n_upd_keys,
                    "key_match_path": path,
                    **({"n_replaced": n_replaced} if n_replaced is not None else {}),
                    # the overlap refusal above makes the two key sets
                    # disjoint, so the union count decomposes exactly
                    **(
                        {"n_delete_keys": n_keys - n_upd_keys}
                        if dels_kdf is not None
                        else {}
                    ),
                }
                meta = _carry_schema(man, meta)
                if evolved_json is not None:
                    meta["schema_json"] = evolved_json
                if extra_meta:
                    meta.update(extra_meta)
                _publish_or_rebase(
                    spark, table_dir, man,
                    loser_removed=set() if mode == "mor" else set(matched),
                    loser_read=set(matched),
                    loser_added=new_files,
                    loser_dv_added=dv_added,
                    meta=meta,
                    key_box=key_box,
                    allow_rebase=expected_version is None,
                )
                return read_manifest(table_dir)

            if _prevalidated is not None and not checks:
                # PRE-VALIDATED internal path (r17): the caller — the MV
                # refresh, whose classification aggregate already proved the
                # batch non-empty, NULL-free, key-distinct and side-disjoint
                # and computed these exact counts and the key box — skips
                # the batch-validation aggregate entirely. Never taken when
                # the table carries CHECK constraints (those must scan), and
                # never exposed on the public surface; the manifest CAS and
                # the planner run unchanged.
                n_keys = _prevalidated["n_keys"]
                key_box = dict(_prevalidated["key_box"])
                n_rows = _prevalidated["n_rows"]
                n_upd_keys = _prevalidated["n_upd_keys"]
                return _merge_planned(
                    man, evolved_json, n_keys, key_box, n_upd_keys
                )
            # ONE batch-validation aggregate (r17 commit-floor fold): the
            # CHECK-constraint counts, the duplicate-key refusal's row/key
            # counts, the planner's count-gate + NULL refusal + rebase key
            # box, and (with deletes) the overlap refusal all ride a single
            # tagged scan of the batch — three driver round-trips folded
            # into one, per commit, at any scale. The refusal ORDER is
            # unchanged (checks → empty → NULL keys → overlap → duplicates).
            side = F.col("_mt_side")
            if dels_kdf is None:
                tagged = updates.withColumn("_mt_side", F.lit(1))
            else:
                utypes = {f.name: f.dataType for f in updates.schema.fields}
                tagged = updates.withColumn("_mt_side", F.lit(1)).unionByName(
                    dels_kdf.select(
                        *[
                            F.col(c) if c in keys
                            else F.lit(None).cast(utypes[c]).alias(c)
                            for c in updates.columns
                        ],
                        F.lit(0).alias("_mt_side"),
                    )
                )
            null_cond = F.lit(False)
            for c in keys:
                null_cond = null_cond | F.col(c).isNull()
            ck_names = sorted(checks)
            vrow = _plan_no_aqe(tagged.agg(
                F.sum(side).alias("__nu_rows"),
                F.count_distinct(F.when(side == 1, F.struct(*keys))).alias(
                    "__nu_keys"
                ),
                F.count_distinct(F.when(side == 0, F.struct(*keys))).alias(
                    "__nd_keys"
                ),
                F.count_distinct(F.struct(*keys)).alias("__n"),
                F.max(F.when(null_cond, 1).otherwise(0)).alias("__nn"),
                *[
                    m
                    for c in keys
                    for m in (
                        F.min(c).alias(f"__mn_{c}"),
                        F.max(c).alias(f"__mx_{c}"),
                    )
                ],
                *[
                    F.sum(
                        F.when((side == 1) & ~F.expr(checks[n]), 1).otherwise(0)
                    ).alias(f"__ck_{i}")
                    for i, n in enumerate(ck_names)
                ],
            )).collect()[0]
            bad = {
                n: int(vrow[f"__ck_{i}"])
                for i, n in enumerate(ck_names)
                if vrow[f"__ck_{i}"]
            }
            if bad:
                detail = ", ".join(
                    f"{n!r} ({checks[n]}): {c} row(s)" for n, c in bad.items()
                )
                raise ValueError(
                    f"mtable merge: CHECK constraint violation — {detail}; "
                    "the batch was refused and no version was committed"
                )
            n_keys = vrow["__n"]
            if n_keys == 0:
                raise ValueError("mtable_merge: empty update batch")
            if vrow["__nn"]:
                raise ValueError(
                    f"mtable: NULL value in merge/delete key column(s) {keys} — "
                    "a NULL key never equi-matches any table row; filter or "
                    "repair the batch upstream"
                )
            key_box = {c: (vrow[f"__mn_{c}"], vrow[f"__mx_{c}"]) for c in keys}
            n_rows = vrow["__nu_rows"] or 0
            n_upd_keys = vrow["__nu_keys"]
            if dels_kdf is not None and n_upd_keys + vrow["__nd_keys"] > n_keys:
                # a key appearing on BOTH sides has no defined winner;
                # disjointness falls out arithmetically: overlap ⇔
                # upd + del > union
                raise ValueError(
                    "mtable_merge: a key tuple appears in both "
                    "updates and deletes — whether it is replaced "
                    "or removed is undefined; split the batch "
                    "upstream"
                )
            if n_rows != n_upd_keys:
                # a batch with duplicate key tuples has no
                # well-defined upsert (which row wins?) — the
                # Delta/Iceberg "multiple source rows matched"
                # refusal; dedupe upstream or pre-aggregate via
                # mtable_merge_agg
                raise ValueError(
                    f"mtable_merge: update batch has {n_rows - n_upd_keys} "
                    f"duplicate key rows ({n_rows} rows, {n_upd_keys} "
                    f"distinct {keys}); an upsert needs one row per key"
                )
            return _merge_planned(man, evolved_json, n_keys, key_box, n_upd_keys)
        except Exception:
            # refusals raised during validation must not leak the
            # persisted batch (the success path unpersists inside
            # _merge_planned; a second unpersist there is a no-op)
            updates.unpersist()
            if dels_kdf is not None:
                dels_kdf.unpersist()
            raise

    return _retrying(_once, table_dir, retries, expected_version)


#: mtable_vacuum's live-writer grace window (seconds): young
#: unreferenced files and young above-pointer manifests are an
#: IN-FLIGHT commit, not debris. One hour mirrors Delta's posture of
#: never reclaiming anything a running job could still publish.
_VACUUM_GRACE_SECONDS = 3600.0


def mtable_vacuum(
    table_dir: str,
    retain_versions: int = 1,
    dry_run: bool = False,
    retain_hours: float | None = None,
    grace_seconds: float = _VACUUM_GRACE_SECONDS,
) -> dict:
    """Delete data files unreferenced by the ``retain_versions`` most
    recent COMMITTED manifests, and drop manifests outside that window.
    ``retain_hours`` widens the window by TIME (the Delta vacuum
    contract — default 168 h there): every committed version whose
    ``committed_at`` falls within the last N hours is ALSO retained, so
    a version-count policy can never silently destroy the time-travel
    window an operator reasons in ("we keep 7 days") during a commit
    storm. The effective window is the UNION of both rules.
    ``dry_run=True`` reports what WOULD be removed without touching
    anything — run it first; vacuum is the one irreversible operation
    in the format.
    Time travel shrinks to the retained window. Safe beside live
    writers at the DEFAULT ``grace_seconds`` (see below — a vacuum
    racing a writer's link-to-pointer-flip window is age-gated away
    from the about-to-be-pointed-at manifest and its files); only the
    ``grace_seconds=0`` opt-out still requires the cooperative writer
    lock or a single-writer maintenance window.

    Retention is anchored on the ``_latest`` POINTER, never on the
    highest manifest file present: a crash between manifest write and
    pointer flip leaves an orphan manifest ABOVE the pointer, and
    anchoring on it would let vacuum retain only the orphan while
    deleting the live pointed-to version's files (data loss). Instead
    the window is the pointer version and its predecessors; manifests
    above the pointer are crash debris — dropped whole (their data
    files are reclaimed unless a retained version also lists them),
    tolerating even an unparseable half-written orphan.

    ``grace_seconds`` (round 16 — the Delta file-retention posture)
    makes vacuum SAFE TO RUN BESIDE LIVE WRITERS instead of only under
    the cooperative lock: an in-flight commit consists of (a) data/DV/
    bloom files already written but referenced by NO manifest yet and
    (b) possibly a manifest one slot above the pointer awaiting its
    flip — byte-identical to crash debris EXCEPT for age. Anything
    younger than the grace window is therefore left alone (removed on
    a later vacuum once it is either referenced or provably abandoned);
    only the explicit ``grace_seconds=0`` opt-out reclaims immediately
    (single-writer maintenance windows, tests)."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    now = time.time()

    def _aged(path: str) -> bool:
        # unstattable = concurrently removed or being replaced: not ours
        # to reclaim this pass either way
        try:
            return now - os.path.getmtime(path) > grace_seconds
        except OSError:
            return False

    current = _current_version(table_dir)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")
    )
    committed = [v for v in versions if v <= current]
    keep_versions = committed[-max(1, retain_versions):]
    if retain_hours is not None:
        cutoff = time.time() - retain_hours * 3600.0
        for v in committed:
            if v in keep_versions:
                continue
            try:
                ts = read_manifest(table_dir, v).get("committed_at")
            except Exception:
                continue  # unreadable manifest: crash debris, not retained
            if ts is not None and ts >= cutoff:
                keep_versions.append(v)
        keep_versions.sort()
    if current not in keep_versions:  # pointer always survives vacuum
        keep_versions.append(current)
    referenced: set[str] = set()
    referenced_segs: set[str] = set()
    for v in keep_versions:
        man_v = read_manifest(table_dir, v)
        referenced |= set(man_v["files"])
        # manifest segments obey the same referenced-set rule: live
        # while any retained descriptor references them (a crashed or
        # CAS-losing writer's segments are unreferenced debris)
        referenced_segs |= set(man_v.get("segments", ()))
        # deletion-vector files live exactly as long as a retained
        # version still shadows a data file with them
        for dvs in (man_v.get("dv") or {}).values():
            referenced |= set(dvs)
        # bloom sidecars likewise: referenced while any retained
        # version's bitset map points at them
        referenced |= set(
            ((man_v.get("bloom") or {}).get("files") or {}).values()
        )
    removed = []
    for entry in os.listdir(table_dir):
        sub = os.path.join(table_dir, entry)
        if not (
            (
                entry.startswith("data-")
                or entry.startswith("dv-")
                or entry.startswith("bloom-")
            )
            and os.path.isdir(sub)
        ):
            continue
        # os.walk, not a flat listing: partitioned tables nest their
        # files under data-parts/col=value/ subdirectories
        for root, _dirs, fs in os.walk(sub):
            for f in fs:
                rel = os.path.relpath(os.path.join(root, f), table_dir)
                if (
                    f.endswith(".parquet")
                    and rel not in referenced
                    and _aged(os.path.join(table_dir, rel))
                ):
                    if not dry_run:
                        os.remove(os.path.join(table_dir, rel))
                    removed.append(rel)
    # committed history (v <= pointer) is never in-flight — reclaimed
    # regardless of age; an ABOVE-pointer manifest is only debris once
    # it has outlived the grace window (else it is a commit mid-flip)
    dropped_manifests = [
        v
        for v in versions
        if v not in keep_versions
        and (v <= current or _aged(_manifest_path(table_dir, v)))
    ]
    if not dry_run:
        for v in dropped_manifests:
            os.remove(_manifest_path(table_dir, v))
    # segment sweep AFTER the manifest drop: anything no retained
    # descriptor references — dropped versions' private segments, CAS
    # losers' debris, half-finished writers' staging
    dropped_segments = []
    for f in os.listdir(mdir):
        if (
            f.startswith("seg-")
            and f.endswith(".json")
            and f not in referenced_segs
            # a young unreferenced segment is an in-flight writer's
            # manifest-to-be (segments land BEFORE the descriptor)
            and _aged(os.path.join(mdir, f))
        ):
            if not dry_run:
                os.remove(os.path.join(mdir, f))
                _SEG_CACHE.pop(os.path.abspath(os.path.join(mdir, f)), None)
            dropped_segments.append(f)
    return {
        "removed_files": sorted(removed),
        "retained_versions": keep_versions,
        "dropped_manifests": dropped_manifests,
        "dropped_segments": sorted(dropped_segments),
        "dry_run": dry_run,
    }


def mtable_delete(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key: str | list[str],
    max_collect_keys: int = DEFAULT_MAX_COLLECT_KEYS,
    expected_version: int | None = None,
    retries: int = 0,
    mode: str = "cow",
) -> dict:
    """DELETE by key set (single or composite ``key``), with the two
    standard lakehouse strategies:

    * ``mode='cow'`` (copy-on-write, the default): the MERGE machinery
      minus the insert — only files whose per-column ranges intersect
      the key set are read and rewritten without the deleted rows;
      everything else is re-listed verbatim. Read-optimal, but a 1-row
      delete rewrites its whole matched file.
    * ``mode='mor'`` (merge-on-read, the Delta deletion-vector /
      Iceberg v2 positional-delete move): NO data file is rewritten —
      the matched files are scanned once to resolve the doomed rows'
      (file, row-position) pairs, those pairs land in one tiny
      deletion-vector parquet, and the manifest maps each shadowed
      data file to its DV files. Every reader (``mtable_read``, merge
      planning, change feed, compaction, clone) anti-joins the DV out
      on (file basename, row index) via the parquet reader's
      ``_metadata`` column. Write cost is O(deleted rows) — at 100 TB
      a daily trickle-delete stops rewriting ~1 GB files to kill
      single rows. ``mtable_compact`` materializes the deletes and
      clears the DVs; vacuum reclaims DV files exactly like data
      files once no retained version references them.

    Re-deleting an already-deleted key is a no-op in both modes (MOR
    resolves positions against the DV-filtered read, so the same row
    never enters two DVs and a fully-shadowed match writes no DV at
    all). Same count-gated planning, CAS commit, and optional
    optimistic retry as ``mtable_merge``. A key that matches nothing
    still commits a (no-op-ish) version — deletes are idempotent by
    construction."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mtable_delete: unknown mode {mode!r} (cow|mor)")
    kcols = _as_keys(key)

    def _once() -> dict:
        man = read_manifest(table_dir)
        _check_expected(man, expected_version, table_dir)
        matched, untouched, n_keys, kdf, path, key_box = _plan_matched_files(
            spark, table_dir, man, keys, kcols, max_collect_keys,
            "mtable_delete: empty key set",
        )
        new_files: list[str] = []
        n_deleted = None
        dv_added: dict = {}
        try:
            if matched and mode == "mor":
                scan = _scan_with_pos(spark, table_dir, matched, man)
                semi = F.broadcast(kdf) if n_keys <= max_collect_keys else kdf
                doomed = (
                    scan.join(semi, kcols, "left_semi")
                    .select(
                        F.col("_mt_file").alias("file"),
                        F.col("_mt_pos").alias("pos"),
                    )
                    .persist()
                )
                try:
                    # one per-file count collect carries the deleted-row
                    # total AND the shadowed-file set (r17 fold — was a
                    # count() plus a distinct-file collect)
                    per_file = doomed.groupBy("file").count()
                    if n_keys <= max_collect_keys:
                        per_file = _plan_no_aqe(per_file)
                    per_file = per_file.collect()
                    n_deleted = sum(r["count"] for r in per_file)
                    if n_deleted:
                        dv_rel = _new_dv_file(table_dir, doomed)
                        base_to_rel = {os.path.basename(f): f for f in matched}
                        for r in per_file:
                            dv_added.setdefault(
                                base_to_rel[r["file"]], []
                            ).append(dv_rel)
                finally:
                    doomed.unpersist()
            elif matched:
                old = _read_files(spark, table_dir, matched, man)
                anti = F.broadcast(kdf) if n_keys <= max_collect_keys else kdf
                survivors = old.join(anti, kcols, "left_anti")
                # write unconditionally: the writer already drops
                # zero-row part files, so an all-deleted match yields an
                # empty new_files list — the pre-count probe job it
                # replaced answered the same question at the same scan
                # cost (r17 fold)
                new_files = _new_data_files(
                    table_dir, survivors, partition_by=man.get("partition_by"),
                    root=man.get("partition_root", "data-parts")
                )
        finally:
            kdf.unpersist()
        _publish_or_rebase(
            spark, table_dir, man,
            loser_removed=set() if mode == "mor" else set(matched),
            loser_read=set(matched),
            loser_added=new_files,
            loser_dv_added=dv_added,
            meta=_carry_schema(man, {
                "op": "delete",
                "parent": man["version"],
                "keys": kcols,
                "mode": mode,
                "files_rewritten": 0 if mode == "mor" else len(matched),
                "files_untouched": len(untouched),
                "n_delete_keys": n_keys,
                "key_match_path": path,
                **({"n_deleted": n_deleted} if n_deleted is not None else {}),
            }),
            key_box=key_box,
            allow_rebase=expected_version is None,
        )
        return read_manifest(table_dir)

    return _retrying(_once, table_dir, retries, expected_version)


def mtable_compact(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int = 128 << 20,
    sort_within_by: list[str] | None = None,
    cluster: list[str] | None = None,
    zorder: list[str] | None = None,
    scope: str = "full",
    small_bytes: int | None = None,
) -> dict:
    """Compaction as a VERSION: rewrite files into ⌈bytes/target⌉
    uniformly-sized replacements (operators.layout.compact_table's
    sizing rule) and publish them as version N+1 — readers on version
    N are untouched, and time travel across the compaction keeps
    working until vacuum. This is how a manifest table absorbs the
    small files MERGE/append churn produces without ever blocking
    reads. Deletion vectors materialize here: rewritten files read
    DV-filtered and their shadow entries drop from the manifest.

    ``scope='full'`` (default) rewrites the whole snapshot — the
    recluster path (``cluster=`` / ``zorder=``, Delta OPTIMIZE ZORDER
    BY) requires it. ``scope='small'`` is OPTIMIZE's actual daily
    shape: rewrite ONLY the under-sized files (< ``small_bytes``,
    default target/2) plus every DV-shadowed file (so the shadow
    always materializes), and re-list each right-sized clean file
    verbatim — stats included, bytes untouched (inode-pinned in
    tests). At 100 TB this is the difference between an O(table)
    nightly rewrite and an O(churn) one; a table with nothing
    under-sized and no shadows is a true no-op (no commit — the
    current manifest returns unchanged)."""
    import math

    if cluster and zorder:
        raise ValueError("mtable_compact: pass cluster= OR zorder=, not both")
    if scope not in ("full", "small"):
        raise ValueError(f"mtable_compact: unknown scope {scope!r} (full|small)")
    if scope == "small" and (cluster or zorder):
        raise ValueError(
            "mtable_compact: recluster requires scope='full' (a partial "
            "recluster would leave the table half-ordered while its fresh "
            "file stats claim tight ranges)"
        )
    man = read_manifest(table_dir)
    dvmap = man.get("dv") or {}
    if scope == "small":
        floor_ = small_bytes if small_bytes is not None else target_bytes // 2
        rewrite = [
            f
            for f in man["files"]
            if f in dvmap
            or os.path.getsize(os.path.join(table_dir, f)) < floor_
        ]
        kept = [f for f in man["files"] if f not in set(rewrite)]
        if len(rewrite) < 2 and not any(f in dvmap for f in rewrite):
            return man  # nothing worth a commit
    else:
        rewrite, kept = list(man["files"]), []
    total = sum(
        os.path.getsize(os.path.join(table_dir, f)) for f in rewrite
    )
    n_out = max(1, math.ceil(total / target_bytes))
    src = _read_files(spark, table_dir, rewrite, man)
    pby = man.get("partition_by")
    salt = None
    salt_tasks = None
    max_records = None
    if pby:
        # Partitioned tables: the writer itself shuffles by the
        # partition columns (one file per touched value — the
        # small-file contract), so a global range re-layout here would
        # be immediately destroyed. Ordering is delegated INSTEAD to a
        # within-partition sort in the writer: with one file per value,
        # per-file stats tightness is moot and the win is parquet
        # ROW-GROUP pruning inside each sorted file (lexicographic on
        # the requested keys; partition pruning remains the primary
        # pruner on these tables).
        df = src
        order_cols = cluster or zorder or sort_within_by
        # OVERSIZED-PARTITION SPLIT (ADVICE r16): under the
        # one-file-per-value contract a partition value whose bytes
        # exceed target_bytes could never be split — repeated
        # compaction would re-coalesce it into one ever-larger file.
        # Attribute the rewrite set's bytes to partition values by
        # their path segments, and salt any value over target_bytes
        # into ceil(bytes/target) slices: rows hash-spread across the
        # slices, the writer shuffles on (value cols, salt) and emits
        # one file per (value, slice). Values at/under target join no
        # split row → nsplit 1 → salt constantly 0, exactly the old
        # single file. Old-spec files (compaction migrates them to the
        # current spec) carry no current-spec path values; they fold
        # into the unsalted default — under-splitting only, never
        # incorrect.
        from urllib.parse import unquote

        by_val: dict[tuple, int] = {}
        for f in rewrite:
            raw = {}
            for seg in f.split(os.sep)[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    raw[k] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                    )
            if set(pby) <= set(raw):
                key = tuple(raw[c] for c in pby)
                by_val[key] = by_val.get(key, 0) + os.path.getsize(
                    os.path.join(table_dir, f)
                )
        oversized = {
            k: math.ceil(b / target_bytes)
            for k, b in by_val.items()
            if b > target_bytes
        }
        if oversized:
            splits = spark.createDataFrame(
                [(*k, n) for k, n in oversized.items()],
                T.StructType(
                    [T.StructField(c, T.StringType()) for c in pby]
                    + [T.StructField("__mt_nsplit", T.IntegerType())]
                ),
            ).select(
                # cast the path-borne strings with Spark's own cast —
                # the same direction its partition discovery uses — so
                # the join compares typed like with typed like
                *[
                    F.col(c).cast(src.schema[c].dataType).alias(c)
                    for c in pby
                ],
                "__mt_nsplit",
            )
            cond = None
            for c in pby:
                eq = src[c].eqNullSafe(splits[c])
                cond = eq if cond is None else (cond & eq)
            data_cols = list(src.columns)
            df = (
                src.join(F.broadcast(splits), cond, "left")
                .select(src["*"], splits["__mt_nsplit"])
                .withColumn(
                    "__mt_salt",
                    F.pmod(
                        F.hash(*[F.col(c) for c in data_cols]),
                        F.coalesce(F.col("__mt_nsplit"), F.lit(1)),
                    ).cast("int"),
                )
                .drop("__mt_nsplit")
            )
            salt = "__mt_salt"
            # one task per desired output slice (plus one per unsplit
            # value); hash collisions between (value, salt) combos can
            # merge slices into one task — the record limit below makes
            # the FILE split deterministic even then
            salt_tasks = sum(oversized.values()) + max(
                1, len(by_val) - len(oversized)
            )
            # deterministic sizing backstop (maxRecordsPerFile — the
            # Delta move): convert target_bytes to a record count via
            # the rewrite set's own bytes/row (footer num_rows are
            # driver metadata reads; DV-shadowed rows inflate the
            # denominator slightly, erring toward smaller files —
            # the safe side)
            import pyarrow.parquet as pq

            total_rows = sum(
                pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
                for f in rewrite
            )
            if total_rows:
                max_records = max(
                    1, int(target_bytes * total_rows / max(total, 1))
                )
    elif cluster or zorder:
        # RECLUSTER as a version (Delta OPTIMIZE [ZORDER BY]): the
        # rewrite is the moment layout is cheapest to fix, and the
        # fresh files' manifest stats immediately tighten merge/delete
        # pruning on the clustered keys
        from w4h_etl_container_spark.operators.layout import cluster_by, zorder_by

        df = (
            cluster_by(src, cluster, n_files=n_out)
            if cluster
            else zorder_by(src, zorder, n_files=n_out)
        )
        order_cols = None
    else:
        df = src.repartition(n_out)
        if sort_within_by:
            df = df.sortWithinPartitions(*sort_within_by)
        order_cols = None
    new_files = _new_data_files(
        table_dir, df, partition_by=pby,
        root=man.get("partition_root", "data-parts"),
        sort_within_by=order_cols,
        salt_col=salt,
        salt_tasks=salt_tasks,
        max_records_per_file=max_records,
    )
    # Publish THROUGH the rebase path (round 16 — r15 verdict #4): a
    # compaction losing the CAS race to a disjoint writer (the common
    # production collision: nightly OPTIMIZE racing a trickle sink)
    # re-targets the new snapshot at manifest speed instead of
    # erroring, REUSING its already-written replacement files. The
    # disjointness rules apply verbatim with compaction's read/write
    # sets: loser_read = loser_removed = the rewrite set (a winner
    # that rewrote/removed any of those files, or changed their
    # deletion vectors, invalidates the DV-filtered bytes we just
    # wrote → replan), keys = [] (compaction never keys on rows, so a
    # winner's ADDED files can never conflict — they simply ride the
    # rebased manifest), and any table-contract change (schema /
    # partition spec / checks / bloom config) conservatively replans.
    meta = _carry_schema(man, {
        "op": "compact",
        "scope": scope,
        "files_in": len(rewrite),
        "files_kept": len(kept),
        "files_out": len(new_files),
        "bytes_in": total,
        **({"clustered_by": cluster} if cluster else {}),
        **({"zordered_by": zorder} if zorder else {}),
    })
    _publish_or_rebase(
        spark, table_dir, man,
        loser_removed=set(rewrite),
        loser_read=set(rewrite),
        loser_added=new_files,
        loser_dv_added={},
        meta=meta,
        key_box={},
        allow_rebase=True,
    )
    new_man = read_manifest(table_dir)
    # Row conservation at REWRITE-SUBSET granularity: the old
    # whole-table before/after count would false-alarm after a rebase
    # (the winner's appends legitimately change the total); comparing
    # the DV-filtered rewrite set against its replacement files checks
    # exactly what compaction may not alter.
    #
    # r17: both sides come from DRIVER METADATA, not Spark jobs — the
    # previous implementation re-scanned every rewritten byte a second
    # time (two count jobs after the rewrite job, pure read
    # amplification at any scale). The replacement side is a plain
    # footer num_rows sum (fresh files carry no DVs); the input side is
    # footer rows minus the DV positions shadowing the rewrite set,
    # read from the tiny DV sidecars with pyarrow. Oversized shadows
    # (same 32 MB decompressed gate as the read path's broadcast
    # decision) fall back to the exact Spark count — correctness is
    # never gated.
    import pyarrow.parquet as pq

    def _rows(rels: list[str]) -> int:
        return sum(
            pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
            for f in rels
        )

    n_out_rows = _rows(new_files) if new_files else 0
    dv_rel_files = _dv_paths(man, rewrite)
    n_in = None
    if dv_rel_files:
        try:
            if _rows(dv_rel_files) * 128 <= 32 << 20:
                rewrite_bases = {os.path.basename(f) for f in rewrite}
                dead: set[tuple] = set()
                for rel in dv_rel_files:
                    t = pq.read_table(
                        os.path.join(table_dir, rel), columns=["file", "pos"]
                    )
                    dead.update(
                        (b, p)
                        for b, p in zip(
                            t.column("file").to_pylist(),
                            t.column("pos").to_pylist(),
                        )
                        if b in rewrite_bases
                    )
                n_in = _rows(rewrite) - len(dead)
        except Exception:
            n_in = None  # unreadable sidecar: use the exact count below
        if n_in is None:
            n_in = _read_files(spark, table_dir, rewrite, man).count()
    else:
        n_in = _rows(rewrite)
    if n_in != n_out_rows:
        raise RuntimeError(
            f"mtable_compact row-count mismatch: rewrote {n_in} rows "
            f"into files carrying {n_out_rows}"
        )
    return new_man


def mtable_maintain(
    spark: SparkSession,
    table_dir: str,
    *,
    small_bytes: int = 8 << 20,
    small_files: int = 16,
    dv_max_rows: int = 65_536,
    dv_max_files: int = 16,
    target_bytes: int = 128 << 20,
    vacuum_retain: int | None = None,
    vacuum_grace_seconds: float = _VACUUM_GRACE_SECONDS,
    dry_run: bool = False,
) -> dict:
    """The MAINTENANCE POLICY the format's primitives were missing
    (round 14): every degradation mode has a fix — DV shadows and
    small files compact away (``mtable_compact(scope='small')``),
    stale versions vacuum — but nothing decided WHEN, so a table whose
    operator never compacts degrades until the DV read path is living
    off its shuffled-anti-join fallback. This planner measures the
    table with DRIVER METADATA ONLY (file sizes via stat, DV row
    counts via parquet footers — never a data scan), fires the
    triggers that are over threshold, and reports what it saw and did,
    so "run mtable_maintain nightly" is the whole operational story.

    Triggers (each reported with its measurement):

    * ``small-files``: more than ``small_files`` data files under
      ``small_bytes`` — streaming/trickle churn shape; compaction
      restores ⌈bytes/target⌉ sizing.
    * ``dv-shadow``: the merge-on-read shadow exceeds ``dv_max_rows``
      positions or ``dv_max_files`` sidecars — every read is paying an
      anti-join over it, and past the 32 MB decompressed gate it stops
      broadcasting; materializing keeps point deletes O(batch) while
      bounding read debt.
    * ``vacuum``: only when ``vacuum_retain`` is passed explicitly —
      deleting history is irreversible, so it is never implied.

    One ``scope='small'`` compaction serves both compact triggers (it
    rewrites under-sized AND shadowed files, re-lists everything else
    verbatim — O(churn), inode-pinned in tests). ``dry_run=True``
    measures and plans without committing anything."""
    import pyarrow.parquet as pq

    man = read_manifest(table_dir)
    dvmap = man.get("dv") or {}
    dv_files = sorted({d for dvs in dvmap.values() for d in dvs})
    dv_rows = sum(
        pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
        for f in dv_files
    )
    small = [
        f
        for f in man["files"]
        if os.path.getsize(os.path.join(table_dir, f)) < small_bytes
    ]
    triggers = []
    if len(small) > small_files:
        triggers.append("small-files")
    if dv_rows > dv_max_rows or len(dv_files) > dv_max_files:
        triggers.append("dv-shadow")
    if vacuum_retain is not None:
        triggers.append("vacuum")
    report = {
        "version_before": man["version"],
        "measured": {
            "n_files": len(man["files"]),
            "n_small_files": len(small),
            "n_dv_files": len(dv_files),
            "dv_rows": dv_rows,
            "shadowed_files": len(dvmap),
        },
        "triggers": triggers,
        "actions": [],
        "dry_run": dry_run,
    }
    if ("small-files" in triggers or "dv-shadow" in triggers) and not dry_run:
        mtable_compact(
            spark,
            table_dir,
            target_bytes=target_bytes,
            scope="small",
            small_bytes=small_bytes,
        )
        report["actions"].append("compact-small")
    if vacuum_retain is not None:
        out = mtable_vacuum(
            table_dir, retain_versions=vacuum_retain, dry_run=dry_run,
            grace_seconds=vacuum_grace_seconds,
        )
        report["actions"].append("vacuum")
        report["vacuum"] = {
            "removed_files": len(out["removed_files"]),
            "dropped_manifests": len(out["dropped_manifests"]),
        }
    report["version_after"] = read_manifest(table_dir)["version"]
    return report


#: The streaming sink keeps this many recent epoch ids in the manifest
#: for observability; replay SAFETY rests on epoch_watermark alone.
_SINK_EPOCHS_KEPT = 64


def mtable_sink(
    spark: SparkSession,
    table_dir: str,
    key: str | list[str] | None = None,
    combine: dict[str, str] | None = None,
    mode: str = "cow",
    partition_overwrite: bool = False,
):
    """Exactly-once streaming sink into an mtable: a ``foreachBatch``
    function that APPENDS each micro-batch (or MERGES it by ``key`` —
    the batch must be key-UNIQUE: dedupe upstream with
    ``dropDuplicates``/a stateful last-write-wins, because a batch
    carrying two rows for one key has no well-defined upsert and
    ``mtable_merge`` refuses it loudly rather than committing an
    arbitrary winner) as one table version, with Spark's documented
    idempotent-sink
    contract implemented on the manifest — every commit records the
    epoch id it came from, and a REPLAYED epoch (post-crash recovery
    re-delivers the last uncommitted batch) is recognized and skipped,
    so at-least-once delivery × idempotent commit = exactly-once table
    contents. EMPTY micro-batches (no-data ticks, watermark-advance
    and recovery batches — Spark delivers these) are a no-op: an
    empty replay re-skips for free, so not recording their epoch is
    safe, and merge/combine modes never see a zero-key batch.

    The epoch check and the version publish are one single-writer
    manifest transaction (atomic pointer rename) in append mode, so a
    crash BETWEEN data-file write and manifest publish leaves orphan
    files (invisible to every reader; vacuum's job) and the replay
    commits cleanly — the standard write-ahead-of-publish recovery
    story. Merge mode annotates the merge's manifest with the epoch in
    a second atomic publish; a crash in that window makes the replay
    re-apply the SAME keyed upsert, which is idempotent by replace
    semantics — contents stay exactly-once either way, at the cost of
    one redundant (harmless) version on that recovery path. Merge mode
    honors ``mode='mor'`` (deletion-vector upserts — a write-hot
    streaming table stops rewriting its files every micro-batch; the
    replayed-epoch recovery stays content-idempotent because the
    replay shadows whatever live copies the crashed attempt left and
    appends the identical batch).

    Usage::

        q = stream.writeStream.foreachBatch(
            mtable_sink(spark, table_dir, key="doc_id")
        ).option("checkpointLocation", ckpt).start()
    """

    if partition_overwrite and (key is not None or combine is not None):
        raise ValueError(
            "mtable_sink: partition_overwrite composes with the append "
            "shape only — pass neither key= nor combine="
        )

    def _commit(df: DataFrame, epoch_id: int) -> None:
        if df.isEmpty():
            return  # no-data / watermark-advance / recovery micro-batch
        try:
            man = read_manifest(table_dir)
        except FileNotFoundError:
            man = None
        # Replay detection is a WATERMARK, not unbounded list membership
        # (round 14): foreachBatch epoch ids are strictly monotone per
        # streaming query, so a replayed batch (crash-recovery re-delivery
        # of the last uncommitted epoch) always satisfies epoch_id <=
        # max committed. The old epochs LIST grew one entry per
        # micro-batch FOREVER — a year of minutely batches is ~5e5 ids
        # carried in every manifest descriptor, the same unbounded-
        # metadata class the segmented manifests just closed. A bounded
        # tail is kept for observability; the single-writer contract
        # (one streaming query per sink table — concurrent queries'
        # epoch spaces would collide) is unchanged from the list design.
        if man is not None:
            committed = man.get("epoch_watermark")
            if committed is None and man.get("epochs"):
                committed = max(man["epochs"])  # legacy manifests
            if committed is not None and epoch_id == committed:
                return  # replayed micro-batch: already committed
            if committed is not None and epoch_id < committed:
                # Spark's crash recovery re-delivers AT MOST the last
                # batch, so a legitimate replay is always epoch_id ==
                # watermark. Strictly below means the query restarted
                # from a FRESH/rebuilt checkpoint (epoch ids restart at
                # 0) or a second query is writing the same sink table —
                # silently skipping here would discard every micro-batch
                # until the new epoch count catches up to the old
                # watermark, indistinguishable from a healthy replay.
                raise ValueError(
                    f"mtable_sink at {table_dir}: micro-batch epoch "
                    f"{epoch_id} is below the committed watermark "
                    f"{committed}. This is a restarted query with a "
                    "fresh checkpoint, or a second concurrent query on "
                    "this sink table (single-writer contract). If the "
                    "checkpoint was intentionally rebuilt, call "
                    "mtable_reset_epochs(table_dir) once before "
                    "restarting the stream."
                )
        if man is None:
            if partition_overwrite:
                raise ValueError(
                    "mtable_sink(partition_overwrite=True): the target "
                    "table must be created first with a partition spec "
                    "(mtable_create(..., partition_by=[...])) — the sink "
                    "cannot invent one from a micro-batch"
                )
            files = _new_data_files(table_dir, df)
            if not files:
                # First micro-batch was empty (_drop_empty pruned the
                # zero-row part file): committing version 0 with zero
                # files would crash every subsequent read until a
                # non-empty batch lands — the exact failure
                # mtable_create refuses loudly. Defer table creation to
                # the first non-empty batch instead: nothing is
                # recorded, so skipping is idempotent under replay (an
                # empty batch re-delivered is still a no-op) and the
                # epoch watermark starts at whichever batch actually
                # creates the table.
                return
            _write_manifest(
                table_dir, 0, files,
                {"op": "stream-append", "epochs": [epoch_id],
                 "epoch_watermark": epoch_id,
                 "schema_json": df.schema.json()},
                file_stats=_stats_for(table_dir, files),
            )
            return
        epochs = (man.get("epochs", []) + [epoch_id])[-_SINK_EPOCHS_KEPT:]
        epoch_meta = {"epochs": epochs, "epoch_watermark": epoch_id}
        if combine is not None:
            # aggregate mode: the additive combine is NOT idempotent, so
            # the epoch record MUST ride the same atomic publish as the
            # data (extra_meta) — no replay window at all
            if key is None:
                raise ValueError("mtable_sink: combine mode needs key=")
            mtable_merge_agg(
                spark, table_dir, df, key, combine, extra_meta=dict(epoch_meta)
            )
        elif partition_overwrite:
            # recompute-a-partition-per-batch (Structured Streaming +
            # replaceWhere): each micro-batch atomically replaces the
            # partition values it carries. Crash between the overwrite
            # commit and the epoch annotation below replays the SAME
            # batch, whose overwrite is content-idempotent (it replaces
            # the partitions with identical rows) — exactly-once
            # contents at the cost of one redundant version on that
            # recovery path, the same story as merge mode.
            new_man = mtable_overwrite_partitions(spark, table_dir, df)
            _write_manifest(
                table_dir,
                new_man["version"],
                new_man["files"],
                {
                    k: v
                    for k, v in new_man.items()
                    if k not in ("version", "files", "file_stats", "dv", "bloom")
                }
                | epoch_meta,
                file_stats=new_man.get("file_stats"),
                dv=new_man.get("dv"),
                bloom=new_man.get("bloom"),
                overwrite=True,
            )
        elif key is None:
            _enforce_checks(df, man.get("checks"), "sink append")
            new_files = _new_data_files(
                table_dir, df, partition_by=man.get("partition_by"),
                root=man.get("partition_root", "data-parts"),
            )
            files = man["files"] + new_files
            meta = _carry_schema(
                man, {"op": "stream-append", **epoch_meta}
            )
            _write_manifest(
                table_dir, man["version"] + 1, files, meta,
                file_stats=_stats_for(
                    table_dir, files, man.get("file_stats"),
                    partition_by=man.get("partition_by"),
                    schema_json=man.get("schema_json"),
                ),
                dv=_carry_dv(man, man["files"]),
                bloom=_bloom_for_commit(
                    spark, table_dir, man, man["files"], new_files
                ),
            )
        else:
            new_man = mtable_merge(spark, table_dir, df, key, mode=mode)
            # annotate the merge commit with its epoch lineage (merge
            # wrote version N+1; rewrite its manifest with epochs —
            # same version, same files, one more atomic publish)
            _write_manifest(
                table_dir,
                new_man["version"],
                new_man["files"],
                {
                    k: v
                    for k, v in new_man.items()
                    if k not in ("version", "files", "file_stats", "dv", "bloom")
                }
                | epoch_meta,
                file_stats=new_man.get("file_stats"),
                dv=new_man.get("dv"),
                bloom=new_man.get("bloom"),
                overwrite=True,
            )

    return _commit


def mtable_reset_epochs(table_dir: str) -> dict:
    """Drop a sink table's epoch bookkeeping AS A NEW COMMIT — the
    documented escape hatch for an intentionally rebuilt streaming
    checkpoint (epoch ids restart at 0, which ``mtable_sink`` refuses
    loudly rather than silently discarding batches below the old
    watermark). Table contents are untouched; only the replay gate
    resets, so the caller owns not re-delivering old source data to
    the fresh query (the usual checkpoint-rebuild contract)."""
    man = read_manifest(table_dir)
    meta = _carry_schema(
        man,
        {
            "op": "reset-epochs",
            "parent": man["version"],
            # explicit sentinel entries so _carry_schema's
            # carry-forward guard sees the keys as "already set"
            "epoch_watermark": None,
            "epochs": [],
        },
    )
    meta = {k: v for k, v in meta.items() if k not in ("epoch_watermark", "epochs")}
    _write_manifest(
        table_dir,
        man["version"] + 1,
        man["files"],
        meta,
        file_stats=man.get("file_stats"),
        dv=man.get("dv"),
        bloom=man.get("bloom"),
    )
    return read_manifest(table_dir)


_COMBINE_FNS = {"sum": F.sum, "max": F.max, "min": F.min}

#: KMV sketch width for the 'kmv' combine — matches plans.sketches.KMV_K
#: so mtable-maintained sketches estimate with the same formula.
_KMV_K = 32


def _combine_expr(col: str, fn: str) -> F.Column:
    """The per-column combine aggregate. 'sum'/'max'/'min' are the
    decomposable scalars; 'kmv' maintains a MERGEABLE k-minimum-values
    DISTINCT sketch (column = array of the ≤K smallest distinct
    hashes): the union's K smallest distinct values — associative,
    commutative, idempotent, so incremental maintenance equals a
    from-scratch rebuild exactly (not just approximately). Estimate
    cardinality with plans.sketches' (K−1)·domain/kth_min formula."""
    if fn == "kmv":
        return F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))),
            1,
            _KMV_K,
        ).alias(col)
    return _COMBINE_FNS[fn](col).alias(col)


def mtable_merge_agg(
    spark: SparkSession,
    table_dir: str,
    delta: DataFrame,
    key: str | list[str],
    combine: dict[str, str],
    extra_meta: dict | None = None,
    max_collect_keys: int = DEFAULT_MAX_COLLECT_KEYS,
    expected_version: int | None = None,
    retries: int = 0,
) -> dict:
    """Incremental AGGREGATE maintenance — the materialized-view
    refresh: the table holds per-``key`` (single or composite)
    aggregates, ``delta`` holds the new batch's partial aggregates for
    the same columns, and the commit COMBINES matched keys instead of
    replacing them (``combine``: column → 'sum' | 'max' | 'min' | 'kmv' — the
    decomposable aggregates plus the mergeable k-minimum-values
    DISTINCT sketch, see ``_combine_expr``; avg ships as sum+count).

    Same copy-on-write discipline, count-gated file matching, CAS
    commit, and optional optimistic retry as ``mtable_merge``:
    range pruning picks the files whose key boxes intersect the delta,
    ONLY those are read; their matched rows re-aggregate together with
    the delta (one groupBy over matched-rows ∪ delta — both are
    per-key aggregates, so the combined groupBy is exact for
    decomposable functions), unmatched rows pass through, new keys
    insert. At 100 TB this is how a per-entity profile table absorbs a
    day's events without rescanning history: the delta is aggregated
    upstream (map-side, corpus-scale), the table touch is range-pruned
    via manifest stats, and a corpus-scale delta key set never
    collects to the driver."""
    for col, fn in combine.items():
        if fn not in _COMBINE_FNS and fn != "kmv":
            raise ValueError(f"unsupported combine fn {fn!r} for {col!r}")
    kcols = _as_keys(key)

    def _once() -> dict:
        man = read_manifest(table_dir)
        _check_expected(man, expected_version, table_dir)
        matched, untouched, n_keys, kdf, path, key_box = _plan_matched_files(
            spark, table_dir, man, delta, kcols, max_collect_keys,
            "mtable_merge_agg: empty delta",
        )
        kdf.unpersist()  # merge_agg re-aggregates whole matched files; no anti-join

        cols = kcols + sorted(combine)
        delta_sel = delta.select(*cols)
        if matched:
            old = _read_files(spark, table_dir, matched, man).select(*cols)
            pool = old.unionByName(delta_sel)
        else:
            pool = delta_sel
        combined = pool.groupBy(*kcols).agg(
            *[_combine_expr(c, fn) for c, fn in sorted(combine.items())]
        )
        out_df = combined.select(*cols)
        has_checks = bool(man.get("checks"))
        if has_checks:
            # the CHECK scan and the data write need the same combined
            # aggregate — persist so the matched-file read + groupBy run
            # once, not twice (r17; checks-free tables keep the bare plan)
            out_df.persist()
        try:
            _enforce_checks(out_df, man.get("checks"), "merge_agg")
            new_files = _new_data_files(
                table_dir, out_df, partition_by=man.get("partition_by"),
                root=man.get("partition_root", "data-parts")
            )
        finally:
            if has_checks:
                out_df.unpersist()
        _publish_or_rebase(
            spark, table_dir, man,
            loser_removed=set(matched),
            loser_read=set(matched),
            loser_added=new_files,
            loser_dv_added={},
            meta=_carry_schema(man, {
                "op": "merge-agg",
                "parent": man["version"],
                "keys": kcols,
                "files_rewritten": len(matched),
                "files_untouched": len(untouched),
                "n_delta_keys": n_keys,
                "key_match_path": path,
                **(extra_meta or {}),
            }),
            key_box=key_box,
            allow_rebase=expected_version is None,
        )
        return read_manifest(table_dir)

    return _retrying(_once, table_dir, retries, expected_version)


def mtable_restore(
    table_dir: str, version: int, expected_version: int | None = None
) -> dict:
    """RESTORE the table to an earlier retained version AS A NEW
    COMMIT (Delta RESTORE): manifest N+1 re-lists version V's files
    verbatim — schema, per-file stats and all — so the rollback is
    O(manifest), never a data rewrite, and the mistake being rolled
    back stays in history (time travel forward and backward across the
    restore both work until vacuum). CAS-protected like every commit;
    restoring to the CURRENT version is refused (a no-op commit that
    could mask a fat-fingered version number)."""
    man = read_manifest(table_dir)
    _check_expected(man, expected_version, table_dir)
    if version == man["version"]:
        raise ValueError(
            f"mtable_restore: table is already at v{version} — nothing "
            "to restore (pass the version to roll back TO, not the bad one)"
        )
    target = read_manifest(table_dir, version)
    meta = {
        "op": "restore",
        "parent": man["version"],
        "restored_from": version,
    }
    if target.get("schema_json"):
        meta["schema_json"] = target["schema_json"]
    if target.get("partition_by"):
        meta["partition_by"] = target["partition_by"]
    for k in ("partition_root", "partition_spec_id"):
        if target.get(k) is not None:
            meta[k] = target[k]
    # Restore means "the table IS version V again" — that covers the
    # table's write-time contract and sink bookkeeping, not just its
    # file list: dropping 'checks' here would silently disable every
    # installed constraint for all subsequent writers, and dropping
    # 'epoch_watermark' would let a sink replay epochs whose data the
    # restore just reinstated (or, worse, forget replay protection
    # entirely).
    if target.get("checks"):
        meta["checks"] = target["checks"]
    if target.get("epoch_watermark") is not None:
        meta["epoch_watermark"] = target["epoch_watermark"]
        if target.get("epochs"):
            meta["epochs"] = target["epochs"]
    _write_manifest(
        table_dir,
        man["version"] + 1,
        target["files"],
        meta,
        file_stats=target.get("file_stats"),
        dv=target.get("dv"),
        bloom=target.get("bloom"),
    )
    return read_manifest(table_dir)


def mtable_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    *,
    key: str | list[str],
    pre_images: bool = False,
) -> DataFrame:
    """Row-level CHANGE FEED between two committed versions — Delta's
    Change Data Feed shape, derived for free from the copy-on-write
    file diff: only files ADDED or REMOVED between the two manifests
    are read (a rewritten file's untouched rows appear in both sides
    and cancel in the multiset difference), so the scan cost is
    O(churned files), never O(table). Output: every table column plus
    ``_change_type`` ∈ ('insert', 'update', 'delete') — updates carry
    the POST-image, deletes the last pre-image. Merge-on-read deletes
    (which change no file list, only the manifest's DV map) surface
    the same way: common files whose deletion-vector set differs are
    scanned once, newly-shadowed positions emit their pre-image as
    deletes, un-shadowed positions (a restore across a MOR delete)
    emit inserts.

    Classification on the ``key`` tuple (the table's merge key —
    change feeds are defined for key-unique tables, the same invariant
    ``mtable_merge`` enforces): a changed row whose key also appears
    among the removed rows is an update; a changed row with a fresh
    key is an insert; a removed key with no replacement is a delete.

    ``pre_images=True`` switches to the full Delta-CDF vocabulary:
    updates emit BOTH rows — ``update_preimage`` (the replaced values)
    and ``update_postimage`` (the new ones) — instead of the post-image
    alone. Pre-images are what make the feed ALGEBRAICALLY consumable:
    a downstream incremental aggregate (see ``pipeline/mview.py``)
    applies each change as signed deltas (+post, −pre), which is
    impossible when the replaced values are suppressed. Cost is zero
    extra scans — the suppressed branch already exists in the counted
    diff; the flag only stops dropping it.

    Degenerate diffs behave correctly by construction: a pure
    compaction rewrites every file but changes no rows — the
    difference cancels to zero changes (at the cost of reading the
    compacted snapshot; version across compactions accordingly). Both
    versions must still be retained (vacuum shrinks the feed's reach,
    exactly as it shrinks time travel)."""
    keys = _as_keys(key)
    counted, cols = _changes_counted(spark, table_dir, from_version, to_version)
    if counted is None:
        # committed-but-changed-nothing window (e.g. a delete that
        # matched no rows): a legitimately EMPTY feed, not an error
        man_b = read_manifest(table_dir, to_version)
        return _read_files(spark, table_dir, man_b["files"], man_b).limit(
            0
        ).withColumn("_change_type", F.lit(""))
    # classification WITHOUT self-joins: one window over the (small,
    # changed-rows-only) counted table marks whether each key has a
    # post-image (d > 0 anywhere) and a pre-image (d < 0 anywhere) —
    # replaced keys are updates, fresh ones inserts, un-replaced
    # removed ones deletes (a replaced key's pre-image is suppressed,
    # same as the join rendering). Both output branches share the
    # window's exchange, so the churned files are scanned exactly once
    # per side at runtime.
    from pyspark.sql import Window as _W

    w = _W.partitionBy(*keys)
    flagged = counted.select(
        *cols,
        "_mt_d",
        F.max(F.when(F.col("_mt_d") > 0, 1).otherwise(0)).over(w).alias("_mt_new"),
        F.max(F.when(F.col("_mt_d") < 0, 1).otherwise(0)).over(w).alias("_mt_old"),
    )
    upd_label = "update_postimage" if pre_images else "update"
    ups = flagged.where(F.col("_mt_d") > 0).select(
        *cols,
        F.when(F.col("_mt_old") == 1, F.lit(upd_label))
        .otherwise(F.lit("insert"))
        .alias("_change_type"),
        F.explode(F.sequence(F.lit(1), F.col("_mt_d"))).alias("_mt_i"),
    ).drop("_mt_i")
    # without pre-images a replaced key's removed row is suppressed
    # (the default feed carries updates as post-image only); with them
    # it surfaces as update_preimage — same counted table, one more
    # branch off the shared exchange
    del_cond = F.col("_mt_d") < 0
    if not pre_images:
        del_cond = del_cond & (F.col("_mt_new") == 0)
    dels = flagged.where(del_cond).select(
        *cols,
        (
            F.when(F.col("_mt_new") == 1, F.lit("update_preimage"))
            .otherwise(F.lit("delete"))
            if pre_images
            else F.lit("delete")
        ).alias("_change_type"),
        F.explode(F.sequence(F.lit(1), -F.col("_mt_d"))).alias("_mt_i"),
    ).drop("_mt_i")
    return ups.unionByName(dels)


def _changes_counted(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
):
    """The change feed's COUNTED core: the multiset difference between
    two versions as one row per changed row-value with its signed
    multiplicity ``_mt_d`` (> 0: appears ``d`` more times in the newer
    version; < 0: ``-d`` fewer). ``mtable_changes`` layers the per-key
    window classification (insert/update/delete vocabulary) on top; an
    ALGEBRAIC consumer (pipeline/mview.py's incremental refresh) reads
    this form directly — its signed-delta aggregates only need the
    multiplicity, so it skips the classification window's exchange and
    the explode entirely (r17). Returns ``(counted_df, data_columns)``;
    ``(None, cols)`` for a committed-but-changed-nothing window."""
    man_a = read_manifest(table_dir, from_version)
    man_b = read_manifest(table_dir, to_version)
    added = sorted(set(man_b["files"]) - set(man_a["files"]))
    removed = sorted(set(man_a["files"]) - set(man_b["files"]))
    # merge-on-read deletes change no file list — the diff lives in
    # the DV map: common files whose shadow set differs contribute
    # newly-dead rows (deletes) and un-shadowed rows (restore-side
    # inserts), resolved by position against ONE raw scan of exactly
    # those files — still O(churned files)
    dv_a_map = man_a.get("dv") or {}
    dv_b_map = man_b.get("dv") or {}
    dv_changed = sorted(
        f
        for f in set(man_a["files"]) & set(man_b["files"])
        if sorted(dv_a_map.get(f, [])) != sorted(dv_b_map.get(f, []))
    )

    def _read(files: list[str], dv_side: dict) -> DataFrame:
        # both sides read under the NEWER manifest's schema so a diff
        # across a schema evolution aligns columns (old rows null-fill)
        # — but each side under its OWN deletion vectors (a row already
        # dead in the old version must not resurface as a delete)
        if files:
            return _read_files(spark, table_dir, files, man_b, dv_man=dv_side)
        if man_b.get("schema_json"):
            # empty side under the recorded schema: a LocalRelation leaf
            # (r18) — the pure-insert / MOR-only windows (a trickle
            # sink's steady state) stop carrying a scan-with-limit(0)
            # subtree through every refresh plan
            return _read_files(spark, table_dir, [], man_b)
        # legacy manifest without a schema: zero rows with the OTHER
        # side's schema
        other = removed if files is added else added
        src = other if other else man_b["files"]
        return _read_files(spark, table_dir, src, man_b).limit(0)

    if man_a["version"] == man_b["version"]:
        raise ValueError(
            f"mtable_changes: both endpoints are v{man_a['version']} — "
            "a change feed needs two distinct committed versions"
        )
    if not added and not removed and not dv_changed:
        return None, _read_files(
            spark, table_dir, man_b["files"], man_b
        ).limit(0).columns
    new_rows = _read(added, man_b)
    old_rows = _read(removed, man_a)
    if dv_changed:
        bases = sorted(os.path.basename(f) for f in dv_changed)

        def _dv_rows(m: dict) -> DataFrame | None:
            dvf = _dv_paths(m, dv_changed)
            if not dvf:
                return None
            # driver-built LocalRelation when the footer gate passes
            # (see _read_dv_local): the _pick broadcast below then
            # collects driver-side with zero scan/build jobs
            local = _read_dv_local(spark, table_dir, dvf)
            src = local if local is not None else _read_dv(
                spark, table_dir, dvf
            )
            return src.where(F.col("file").isin(bases))

        ra, rb = _dv_rows(man_a), _dv_rows(man_b)
        scan = _scan_with_pos(spark, table_dir, dv_changed, man_b, dv_man={})
        data_cols = [c for c in scan.columns if c not in ("_mt_file", "_mt_pos")]

        def _pick(rows: DataFrame) -> DataFrame:
            return scan.join(
                F.broadcast(
                    rows.withColumnsRenamed({"file": "_mt_file", "pos": "_mt_pos"})
                ),
                ["_mt_file", "_mt_pos"],
                "left_semi",
            ).select(*data_cols)

        if rb is not None:
            newly_dead = rb if ra is None else rb.exceptAll(ra)
            old_rows = old_rows.unionByName(_pick(newly_dead))
        if ra is not None:
            resurrected = ra if rb is None else ra.exceptAll(rb)
            new_rows = new_rows.unionByName(_pick(resurrected))
    # ONE-PASS multiset diff (round 13): the exceptAll pair scanned
    # each side twice and its derived key sets re-evaluated the scans
    # again. Tag the sides ±1, aggregate signed counts over ALL
    # columns (one exchange; groupBy's NULL-safe equality matches
    # exceptAll's), and everything downstream — post-images (d > 0,
    # replicated d times = new.exceptAll(old) exactly), pre-images
    # (d < 0), and the key classification joins — derives from the
    # counted CHANGED-ROWS table, which the single final plan reuses
    # via ReusedExchange. Churned files are now read once per side.
    cols = new_rows.columns
    tagged = new_rows.select(*cols, F.lit(1).alias("_mt_d")).unionByName(
        old_rows.select(*cols, F.lit(-1).alias("_mt_d"))
    )
    counted = (
        tagged.groupBy(*cols)
        .agg(F.sum("_mt_d").alias("_mt_d"))
        .where(F.col("_mt_d") != 0)
    )
    return counted, cols


def mtable_clone(src_dir: str, dst_dir: str) -> dict:
    """ZERO-COPY shallow clone (Delta CLONE's core move): publish a new
    table at ``dst_dir`` whose version 0 references the SOURCE's
    current data files by absolute path — no bytes move, the clone is
    O(manifest); the source's persisted per-file stats carry over
    under the translated paths, so the clone's first merge plans
    without any footer reads either. Writes to the clone land new
    files under the clone's own directory (copy-on-write applies per
    table), so the two tables diverge independently from a shared
    immutable base.

    Contract (the standard shallow-clone caveat, made loud here): the
    clone depends on the source's files; ``mtable_vacuum`` only ever
    deletes files under its OWN table directory, so vacuuming the
    CLONE never touches shared bytes — but vacuuming the SOURCE can
    orphan a clone that still references pre-clone versions' files.
    The clone manifest records ``cloned_from`` so an operator can
    audit the dependency; promote to a full copy (read + rewrite) to
    sever it."""
    man = read_manifest(src_dir)
    if man.get("partition_by") or any(
        any("=" in s for s in f.split(os.sep)[1:-1]) for f in man["files"]
    ):
        # the second clause catches a DEpartitioned table still holding
        # files under an old spec's root (spec evolution): their
        # partition values are path-borne too
        raise ValueError(
            "mtable_clone: partitioned tables cannot shallow-clone — the "
            "partition values live in directory names under the SOURCE's "
            "data-parts root, and a clone referencing those files by "
            "absolute path has no basePath under its own directory to "
            "re-attach them; promote with a full copy "
            "(mtable_create(spark, mtable_read(...), dst, partition_by=...))"
        )
    os.makedirs(dst_dir, exist_ok=True)
    src_stats = man.get("file_stats", {})

    def _abs(f: str) -> str:
        return os.path.abspath(os.path.join(src_dir, f))

    abs_files = [_abs(f) for f in man["files"]]
    abs_stats = {_abs(f): st for f, st in src_stats.items()}
    abs_dv = {
        _abs(f): [_abs(d) for d in dvs]
        for f, dvs in (man.get("dv") or {}).items()
    }
    src_bloom = man.get("bloom")
    abs_bloom = None
    if src_bloom:
        abs_bloom = {
            **{k: v for k, v in src_bloom.items() if k != "files"},
            "files": {
                _abs(f): _abs(s)
                for f, s in (src_bloom.get("files") or {}).items()
            },
        }
    meta = _carry_schema(man, {
        "op": "clone",
        "cloned_from": os.path.abspath(src_dir),
        "cloned_version": man["version"],
    })
    # ALTER-era file lists are source-relative while the clone references
    # its files by absolute path — translate them exactly like
    # file_stats/dv/bloom (ADVICE r17, high): untranslated era lists
    # intersect the clone's file list to the EMPTY set, so pre-alter
    # files would read WITHOUT the era patch — a renamed column silently
    # all-NULL, ADD-era defaults silently NULL, widened narrow files
    # read under the wide schema.
    if meta.get("column_defaults"):
        meta["column_defaults"] = {
            c: {**d, "files": sorted(_abs(f) for f in d["files"])}
            for c, d in meta["column_defaults"].items()
        }
    for era_key in ("column_renames", "column_widenings"):
        if meta.get(era_key):
            meta[era_key] = {
                c: [
                    {**e, "files": sorted(_abs(f) for f in e["files"])}
                    for e in eras
                ]
                for c, eras in meta[era_key].items()
            }
    # dropped-physical-name bookkeeping (see mtable_drop_columns) is
    # name-keyed, not path-keyed — it carries verbatim
    _write_manifest(
        dst_dir,
        0,
        abs_files,
        meta,
        file_stats=abs_stats,
        dv=abs_dv,
        bloom=abs_bloom,
    )
    return read_manifest(dst_dir)

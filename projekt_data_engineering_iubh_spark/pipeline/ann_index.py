"""Persisted trained-ANN indexes: build once, serve many (r7 VERDICT #2).

The ANN method matrix measured the deployment problem directly: every
trained variant's inline latency is dominated by TRAINING (Lloyd rounds
plus codebook collection run INSIDE the query — emb_ivfpq_residual
12.67 s at sf1 where brute force takes a fraction of that), and the
Hamming-sketch economics measurement proved the stored form flips the
verdict (0.471 s vs 5.70 s inline). This module generalizes that into
the build/serve split every ANN docstring already describes as the
production shape: a BUILD pass trains the quantizers and persists
centroids/codebooks/codes through the manifest-pointer snapshot store
(pipeline/store.py — atomic publish, snapshot-isolated readers), and a
SERVE query reads the artifacts and answers queries without retraining.

``ensure()`` is memoized build-if-stale, keyed exactly like the
plan-selection probes (plans/vector_queries.py::_max_occupancy): the
index root's name digests (absolute table path, table dir mtime,
constants), so a Spark re-write of the corpus — which deletes/creates
part files and bumps the dir mtime — routes to a FRESH root and
triggers a rebuild, while repeated plan builds over unchanged data
(bench min-of-3, dashboards, a serve fleet) reuse the committed
snapshot. That makes a serve registry entry self-contained: the first
call on a fresh corpus pays the build, every later call is pure read.

At 100 TB the same layout holds: codes are the stored index (2-4
bytes/vector plus the key), centroids/codebooks are k×dim-row tables
(driver-literal sized), training runs on a sample, and the serve join
codes ⋈ corpus is an equi-join on vec_id — co-locate it by writing
codes bucketed next to a bucketed corpus (pipeline/corpus_store.py is
the committed pattern) and it runs exchange-free.

Stale roots from superseded corpus versions accumulate under the index
base dir (each is a self-contained store); clean with a TTL sweep of
dirs whose digest no longer resolves — they are never referenced again.

The second half of this module is the index-store LIFECYCLE shared by
every index kind (IVF-PQ codes and routed cells): one
``append_generation`` (FAISS ``add`` against frozen quantizers), one
``delete_generation`` (tombstones, FAISS ``remove_ids``) and one
``compact``. The kinds differ only in how a new vector is encoded — the
caller passes that as ``encode`` (plans/vector_queries.ivfpq_encode /
routed_encode); every other snapshot artifact is frozen for the root's
lineage and linked forward by every generation.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from projekt_data_engineering_iubh_spark.pipeline import store

DEFAULT_BASE = "/tmp/spark_graft_ann_index"


def base_dir() -> str:
    return os.environ.get("SPARK_GRAFT_INDEX_DIR", DEFAULT_BASE)


def _corpus_fingerprint(path: str) -> tuple:
    """Stable identity of the corpus bytes under ``path``.

    Folds every data file's (relative name, size, mtime) — not the bare
    directory mtime, which does NOT change when file CONTENTS are
    rewritten in place (r8 ADVICE: an in-place rewrite silently served a
    stale index). A single-file corpus contributes its own (size,
    mtime); a missing path contributes a sentinel so the digest still
    resolves (the build then fails loudly on read, not on digest).
    """
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime),)
    if os.path.isdir(path):
        out = []
        for dirpath, _dirnames, filenames in os.walk(path):
            for f in filenames:
                fp = os.path.join(dirpath, f)
                try:
                    st = os.stat(fp)
                except OSError:
                    continue
                out.append(
                    (os.path.relpath(fp, path), st.st_size, st.st_mtime)
                )
        return tuple(sorted(out))
    return (("<missing>", -1, -1.0),)


def index_root(sf_dir: str, table: str, kind: str, constants: tuple) -> str:
    """Deterministic store root for (corpus version, index geometry).

    The digest covers the table's absolute path AND a full listing of
    its data files' (name, size, mtime), so any corpus re-write —
    including an in-place same-name content rewrite — yields a
    different root (build-if-stale without any invalidation protocol),
    plus every constant that shapes the index.
    """
    path = os.path.abspath(os.path.join(sf_dir, table))
    key = repr(
        (path, _corpus_fingerprint(path), kind, constants)
    ).encode()
    digest = hashlib.sha256(key).hexdigest()[:16]
    return os.path.join(base_dir(), f"{kind}_{digest}")


def ensure(
    sf_dir: str,
    table: str,
    kind: str,
    constants: tuple,
    build_fn,
) -> str:
    """Build-if-missing: return a committed store root for this corpus
    version, building via ``build_fn(data_dir)`` (which must write every
    artifact parquet under the given snapshot dir) when absent.

    A lost commit race (another process built the same root first) is
    success — the winner's snapshot is byte-equivalent because training
    is deterministic fixed-point arithmetic over the same corpus bytes.
    """
    root = index_root(sf_dir, table, kind, constants)
    if store.is_store(root):
        return root
    try:
        store.commit_snapshot(root, build_fn)
    except store.CommitConflict:
        pass  # concurrent builder won with an identical snapshot
    return root


def read_artifact(spark: SparkSession, root: str, name: str) -> DataFrame:
    """One named artifact (a parquet dir) out of the current snapshot."""
    return spark.read.parquet(os.path.join(store.resolve(root), name))


def write_bucketed_serving(
    spark: SparkSession,
    corpus: DataFrame,
    codes: DataFrame,
    table_prefix: str,
    *,
    buckets: int = 16,
) -> tuple[str, str]:
    """Materialize the serve join's two sides CO-BUCKETED by vec_id —
    the deployment layout every serve docstring references: the codes ⋈
    corpus equi-join then runs with ZERO exchanges (and zero sorts,
    both sides sortBy the key), proven by
    tests/test_ann_index.py::test_bucketed_serve_join_is_exchange_free.

    Same design as pipeline/corpus_store.py (shuffle once at write
    time, never at read; bucket metadata needs the catalog, so these
    are ``saveAsTable`` tables in the session warehouse). ``corpus``
    must carry vec_id + the serving columns (embedding, nrm, ...);
    ``codes`` is the committed index's (vec_id, cell[, c0..]) frame.
    Returns the two table names."""
    ct, kt = f"{table_prefix}_corpus", f"{table_prefix}_codes"
    for df, table in ((corpus, ct), (codes, kt)):
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, "vec_id")
            .sortBy("vec_id")
            .saveAsTable(table)
        )
    return ct, kt


def bucketed_serve_cells(spark: SparkSession, table_prefix: str) -> DataFrame:
    """The exchange-free serve input: corpus ⋈ codes on vec_id from the
    co-bucketed tables — feed it to the search helpers
    (plans/vector_queries._ivft_search)."""
    ct, kt = f"{table_prefix}_corpus", f"{table_prefix}_codes"
    return spark.table(ct).join(spark.table(kt), "vec_id")


def vacuum_stale(ttl_seconds: float = 7 * 86400) -> list[str]:
    """Remove index roots not touched for ``ttl_seconds`` (the sweep the
    staleness design implies: a superseded corpus version's root is
    never referenced again — its digest can no longer be derived — so
    age is a safe proxy). A live root removed by a mis-tuned TTL is
    only a perf hiccup: the next ensure() rebuilds it deterministically.
    Returns the removed root paths."""
    removed: list[str] = []
    base = base_dir()
    if not os.path.isdir(base):
        return removed
    now = time.time()
    for name in sorted(os.listdir(base)):
        root = os.path.join(base, name)
        probe = os.path.join(root, store.MANIFEST_FILE)
        if not os.path.exists(probe):
            probe = root  # never-committed orphan: age of the dir itself
        try:
            age = now - os.path.getmtime(probe)
        except OSError:
            continue
        if age > ttl_seconds:
            shutil.rmtree(root, ignore_errors=True)
            removed.append(root)
    return removed


# ---------------------------------------------------------------------------
# Snapshot artifact I/O
# ---------------------------------------------------------------------------

# generations re-derive these; every other artifact of a snapshot (coarse
# centroids, codebooks, meta, the router tables) is frozen for the root's
# lineage and linked forward untouched
_GENERATION_ARTIFACTS = ("codes", "tombstones")


def _part_files(d: str) -> list[str]:
    """Data file names of a parquet dir (no _SUCCESS, no hidden .crc)."""
    return [f for f in os.listdir(d) if not f.startswith(("_", "."))]


def read_local_rows(path: str, *, allow_missing: bool = False) -> list[dict]:
    """Rows of a k-row-scale parquet ARTIFACT directory, read with
    pyarrow on the driver: the snapshot client state (meta, coarse
    centroids, codebooks, router tables) is constant-size driver state
    by contract, and reading it through spark.read.parquet().collect()
    paid one Spark job + scheduler round trip PER ARTIFACT — measured
    ~1.2 s of the IVF-PQ serve wall (3 artifacts) for data a local
    footer read returns in milliseconds. Data-sized artifacts (codes,
    tombstones) stay DataFrames.

    A directory with no part files raises FileNotFoundError — a silent
    ``[]`` would surface far from the cause (e.g. as a degenerate
    literal router). Callers with a legitimately-absent artifact
    (read_index_meta's legacy roots) pass ``allow_missing=True``."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files and not allow_missing:
        raise FileNotFoundError(
            f"read_local_rows: no parquet part files under {path!r}"
        )
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def write_index_meta(
    spark: SparkSession,
    data_dir: str,
    pq_m: int,
    pq_codes: int,
    normalized: bool,
    emb_dim: int,
) -> None:
    """One-row `meta` artifact stamped into every APPENDABLE IVF-PQ
    snapshot: the PQ geometry and (crucially) whether the codes were
    built over unit-normalized vectors. The IVF-PQ append encoder
    normalizes — growing a raw-quantized root would silently mix
    metrics — so it refuses roots without a meta row asserting
    normalized=True."""
    spark.createDataFrame(
        [(pq_m, pq_codes, normalized, emb_dim)],
        "pq_m int, pq_codes int, normalized boolean, emb_dim int",
    ).coalesce(1).write.parquet(os.path.join(data_dir, "meta"))


def read_index_meta(snapshot_dir: str):
    """Return the meta row of a snapshot (attribute access), or None for
    legacy roots."""
    import types

    path = os.path.join(snapshot_dir, "meta")
    if not os.path.isdir(path):
        return None
    rows = read_local_rows(path, allow_missing=True)
    return types.SimpleNamespace(**rows[0]) if rows else None


def _read_tombstones(spark: SparkSession, snapshot_dir: str):
    """The snapshot's live tombstone key set (vec_id), or None if the
    version carries no deletes (absent artifact == empty set)."""
    path = os.path.join(snapshot_dir, "tombstones")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path).select("vec_id")


def read_live_codes(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """The snapshot's SERVING view of its codes: every committed code
    row minus the live tombstones (FAISS ``remove_ids`` semantics
    without rewriting the codes at delete time). With no tombstones the
    plan is the bare codes scan — zero cost on the undeleted path; with
    tombstones it is one anti-join against a key set that is tiny
    relative to the corpus (and broadcast by AQE when it fits)."""
    codes = spark.read.parquet(os.path.join(snapshot_dir, "codes"))
    tomb = _read_tombstones(spark, snapshot_dir)
    if tomb is None:
        return codes
    return codes.join(tomb, "vec_id", "left_anti")


def _stage_delta(df: DataFrame, root: str) -> tuple[str, int]:
    """Write a generation's delta ONCE into a staging dir under the root
    (same filesystem, so the commit can HARDLINK the part-file instead of
    running a second Spark write job) and count its rows from the parquet
    FOOTERS (driver-side metadata, no job). Returns (staging_path, rows).

    The staged write pins, counts, and publishes with ONE job plus
    filesystem metadata ops (a checkpoint job, an isEmpty probe and a
    second write inside the commit cost three actions at the ~0.4 s/job
    floor). Caller must shutil.rmtree the staging dir when done —
    part-files hardlinked into a committed snapshot survive the unlink;
    a dir leaked by a dead process is swept by _sweep_stale_staging."""
    import pyarrow.parquet as pq

    staging = os.path.join(root, f".delta_{uuid.uuid4().hex}")
    df.coalesce(1).write.parquet(staging)
    n = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(staging, "*.parquet"))
    )
    return staging, n


# a staging dir older than this was leaked by an appender that died
# between its staged write and its cleanup. Appenders to one root may run
# concurrently, so a younger dir may still belong to a live one.
_STALE_STAGING_SECONDS = 3600


def _sweep_stale_staging(root: str) -> None:
    """Remove the root's leaked ``.delta_*`` staging dirs (see
    _STALE_STAGING_SECONDS)."""
    cutoff = time.time() - _STALE_STAGING_SECONDS
    for path in glob.glob(os.path.join(root, ".delta_*")):
        try:
            stale = os.path.getmtime(path) < cutoff
        except OSError:
            continue  # a concurrent sweep or appender removed it first
        if stale:
            shutil.rmtree(path, ignore_errors=True)


def _link_or_copy_parquet(src_dir: str, dst_dir: str) -> None:
    """Publish src_dir's parquet part-files into dst_dir WITHOUT reading
    them: hardlink (same-filesystem metadata ops, O(#files) regardless of
    bytes) with a copy fallback for cross-device stores. This is what
    makes a snapshot generation O(delta) instead of a per-trigger
    O(corpus) codes rewrite (the Delta/Iceberg manifest trick, done at
    the filesystem level so readers still see one self-contained parquet
    directory). Vacuuming a superseded version only unlinks its
    directory entries; shared inodes survive in every later snapshot
    that linked them."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in _part_files(src_dir):
        src, dst = os.path.join(src_dir, name), os.path.join(dst_dir, name)
        try:
            os.link(src, dst)
        except FileExistsError:
            # part-file names carry a per-job UUID, so a collision means
            # two generations produced the same name — silently
            # overwriting it would lose a file; fail loudly instead
            raise
        except OSError:
            shutil.copy2(src, dst)  # cross-device store: copy fallback


def _link_frozen(cur: str, data_dir: str) -> None:
    """Link every frozen artifact of snapshot ``cur`` into the next
    snapshot's ``data_dir``: all of them except codes and tombstones."""
    for name in os.listdir(cur):
        src = os.path.join(cur, name)
        if (
            name in _GENERATION_ARTIFACTS
            or name.startswith(("_", "."))
            or not os.path.isdir(src)
        ):
            continue
        _link_or_copy_parquet(src, os.path.join(data_dir, name))


# ---------------------------------------------------------------------------
# Generations: append, delete, compact
# ---------------------------------------------------------------------------

_APPEND_RETRIES = 8  # CAS retry bound for concurrent generations
# delete generations link prior tombstone part-files and append one new
# one; at this file count the (tiny) key set is folded into one rewrite
_TOMBSTONE_FOLD_FILES = 8
# compaction rewrites live codes into ~this many bytes per part-file
_COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def _commit_generation(root: str, what: str, derive) -> bool:
    """The store contract every generation honors: resolve the current
    snapshot, derive the next one from it, and on a lost CAS re-resolve
    and re-derive against the WINNER's snapshot. ``derive(cur)`` returns
    the commit's build closure, or None when there is nothing to commit
    (returns False). True iff a new version was committed."""
    for _ in range(_APPEND_RETRIES):
        build = derive(store.resolve(root))
        if build is None:
            return False
        try:
            store.commit_snapshot(root, build)
            return True
        except store.CommitConflict:
            continue  # lost the CAS: re-resolve, re-derive
    raise store.CommitConflict(
        f"{what} on {root} lost the snapshot CAS {_APPEND_RETRIES} times"
    )


def append_generation(
    spark: SparkSession, root: str, vectors: DataFrame, encode
) -> bool:
    """Commit ONE append generation: encode the (vec_id, embedding) rows
    of ``vectors`` against the root's FROZEN quantizers and publish
    current-codes ∪ new-codes as the next snapshot version (FAISS
    ``add``, never a retrain). ``encode(spark, cur, late)`` maps the new
    (vec_id, embedding) rows to code rows using snapshot ``cur``'s
    frozen artifacts. Returns True iff a new version was committed.

    Exactly-once: duplicates WITHIN the delta collapse (two overlapping
    files in one trigger must not commit a vec_id twice), ids already
    live are anti-joined away, and an empty delta commits NOTHING — so
    a replayed foreachBatch trigger (crash between commit and
    checkpoint) lands once. A lost CAS re-anti-joins against the
    winner's codes, so only genuinely new vectors retry; without it a
    foreachBatch caller would checkpoint the trigger as done and lose
    the batch.

    The commit is O(delta): the delta is staged once (_stage_delta),
    then frozen artifacts, existing codes part-files and the staged
    part-file are hardlinked (codes grow one part-file per trigger;
    compact folds them). A tombstoned id arriving again is a RE-ADD
    (FAISS remove_ids then add): the one case that rewrites codes —
    its stale row and its tombstone are dropped."""
    _sweep_stale_staging(root)
    late = vectors.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    staged: list[str] = []

    def derive(cur: str):
        codes = spark.read.parquet(os.path.join(cur, "codes"))
        tomb = _read_tombstones(spark, cur)
        live_ids = codes.select("vec_id")
        if tomb is not None:
            live_ids = live_ids.join(tomb, "vec_id", "left_anti")
        staging, n_delta = _stage_delta(
            encode(spark, cur, late.join(live_ids, "vec_id", "left_anti")),
            root,
        )
        staged.append(staging)
        if n_delta == 0:
            return None  # replayed batch / nothing new: exactly-once
        delta = spark.read.parquet(staging)
        resurrect = tomb is not None and not (
            delta.select("vec_id").join(tomb, "vec_id", "left_semi").isEmpty()
        )

        def build(data_dir: str) -> None:
            _link_frozen(cur, data_dir)
            codes_dir = os.path.join(data_dir, "codes")
            if not resurrect:
                _link_or_copy_parquet(os.path.join(cur, "codes"), codes_dir)
                _link_or_copy_parquet(staging, codes_dir)
                if tomb is not None:
                    _link_or_copy_parquet(
                        os.path.join(cur, "tombstones"),
                        os.path.join(data_dir, "tombstones"),
                    )
                return
            delta_ids = delta.select("vec_id")
            live_tomb = tomb.join(delta_ids, "vec_id", "left_anti")
            if not live_tomb.isEmpty():
                live_tomb.coalesce(1).write.parquet(
                    os.path.join(data_dir, "tombstones")
                )
            codes.join(delta_ids, "vec_id", "left_anti").unionByName(
                delta
            ).write.parquet(codes_dir)

        return build

    try:
        return _commit_generation(root, "append", derive)
    finally:
        for staging in staged:
            shutil.rmtree(staging, ignore_errors=True)


def delete_generation(
    spark: SparkSession, root: str, keys: DataFrame
) -> bool:
    """Commit ONE delete generation: tombstone the given vec_ids (FAISS
    ``remove_ids``) WITHOUT rewriting or re-encoding any code row. The
    next version carries the same artifacts plus a ``tombstones`` key
    set; every serve path reads codes through read_live_codes, so
    deleted vectors stop appearing the moment the version commits while
    in-flight readers of the prior version are untouched. Keys that are
    unknown or already dead commit NOTHING (idempotent under replay).
    The commit is an O(|keys|) key-set write plus hardlinks — no
    shuffle of the corpus, no retrain; compact folds the tombstones into
    a clean snapshot when the dead fraction warrants one rewrite."""
    dedup_keys = keys.select("vec_id").dropDuplicates(["vec_id"])

    def derive(cur: str):
        codes = spark.read.parquet(os.path.join(cur, "codes"))
        tomb = _read_tombstones(spark, cur)
        # only ids that are currently LIVE become new tombstones
        new_dead = dedup_keys.join(
            codes.select("vec_id"), "vec_id", "left_semi"
        )
        if tomb is not None:
            new_dead = new_dead.join(tomb, "vec_id", "left_anti")
        new_dead = new_dead.localCheckpoint(eager=True)
        if new_dead.isEmpty():
            return None  # nothing live to delete: idempotent no-op

        def build(data_dir: str) -> None:
            _link_frozen(cur, data_dir)
            _link_or_copy_parquet(
                os.path.join(cur, "codes"), os.path.join(data_dir, "codes")
            )
            tomb_dir = os.path.join(data_dir, "tombstones")
            if tomb is not None:
                # each generation appends one part-file; past the fold
                # threshold the (tiny) key set is rewritten as ONE file —
                # still O(|all keys|), never O(corpus)
                cur_tomb = os.path.join(cur, "tombstones")
                if len(_part_files(cur_tomb)) >= _TOMBSTONE_FOLD_FILES:
                    tomb.unionByName(new_dead).coalesce(1).write.parquet(
                        tomb_dir
                    )
                    return
                _link_or_copy_parquet(cur_tomb, tomb_dir)
            new_dead.coalesce(1).write.mode("append").parquet(tomb_dir)

        return build

    return _commit_generation(root, "delete", derive)


def compact(spark: SparkSession, root: str) -> bool:
    """Fold both shapes a root accumulates — one codes part-file per
    append trigger and a tombstone key set per delete — into a clean
    snapshot: codes are exactly the LIVE rows, repartitioned from the
    source FOOTPRINT (a parquet scan keeps ~one partition per small
    file, so an unsized rewrite would re-emit the file count it was
    meant to fold), with no tombstones artifact and every frozen
    artifact hardlinked. Returns False (no commit) when there is
    nothing to fold: one codes part-file and no tombstones. Readers of
    prior versions keep their snapshot; store.vacuum reclaims
    superseded generations afterwards."""

    def derive(cur: str):
        src_codes = os.path.join(cur, "codes")
        parts = _part_files(src_codes)
        has_tomb = os.path.isdir(os.path.join(cur, "tombstones"))
        if len(parts) <= 1 and not has_tomb:
            return None  # already compact
        codes_bytes = sum(
            os.path.getsize(os.path.join(src_codes, f)) for f in parts
        )
        n_out = max(1, -(-codes_bytes // _COMPACT_TARGET_BYTES))
        live = read_live_codes(spark, cur)

        def build(data_dir: str) -> None:
            _link_frozen(cur, data_dir)
            # the one real rewrite in the lifecycle: one shuffle of the
            # live rows, the same cost Delta/Iceberg OPTIMIZE pays
            live.repartition(n_out).write.parquet(
                os.path.join(data_dir, "codes")
            )

        return build

    return _commit_generation(root, "compact", derive)

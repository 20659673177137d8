"""Persisted MinHash signature store: the daily-ingest contract for
incremental near-dup mining at 100 TB.

:func:`..operators.dedup.incremental_minhash_pairs` (x73) drives candidate
generation from the new batch, so corpus x corpus pairs are never
generated -- but it still RECOMPUTES the corpus's shingle hashes, DF
filter, and MinHash signatures every run, an O(corpus) CPU pass that
dwarfs the batch at a steady 100 TB corpus with a small daily crawl.
This module persists that work once:

* :func:`write_signature_store` -- one full mining front-half over the
  corpus (shared code path with the inline miner: ``hashed_shingles``,
  DF filter, ``minhash_signatures``, ``band_signatures``), written as
  parquet relations plus a params manifest;
* :func:`incremental_pairs_stored` -- signs ONLY the new batch (against
  the store's frozen DF table), band-joins it against the stored banded
  relation, and exact-verifies with shingle arrays read from the store;
* :func:`append_batch` -- folds the batch's banded/shingle rows into the
  store so tomorrow's batch mines against today's corpus;
* :func:`compact_store` -- rewrites base + applied batch dirs into one
  well-partitioned relation per store (generation-suffixed, manifest-
  swapped), so read-side cost stays flat as daily appends accumulate.

Frozen-DF semantics -- the one deliberate divergence from x73: the
document-frequency statistics (boilerplate set and the ``max_df``
denominator) are computed at store-build time over the CORPUS and reused
verbatim for every batch, instead of recomputed over corpus-union-batch.
That is what makes the batch pass O(batch): a union-DF would re-aggregate
the corpus's token relation every day.  The trade is bounded and
monitorable -- a shingle drifts across the threshold only when batch
volume shifts its corpus-wide frequency past ``max_df``, so rebuild the
store when cumulative appends exceed ~10-20% of the corpus (the manifest
tracks ``n_docs`` at build vs appended).  The DuckDB oracle twin
(``_duck_mh_sigs(df_pred=...)``) mirrors frozen-DF exactly, so the
semantics are pinned cross-engine, not hand-waved.

Store layout (under ``path/``; manifest, batch dirs, generation naming
and the commit protocol are the store core's, :mod:`.store`)::

    banded/         (id, band_idx, band_key) parquet, repartitioned by
                    (band_idx, band_key) so candidate-join buckets are
                    file-clustered
    shingles/       (id, sh array<bigint>) parquet, sorted by id within
                    partitions so the verify join's row-group stats
                    enable runtime skipping on selective candidates
    common/         (h bigint) -- the frozen boilerplate shingle set

The manifest carries the params (k, num_perms, bands, max_df), n_docs
at build, n_appended, tot_hashes, and the ``generation`` (banded,
shingles) and ``common_generation`` counters.

Reference parity note: the reference engine has no incremental mining;
this extends its dedup surface with the operation a training-data
pipeline actually runs daily (SURVEY.md section 2.4 extension family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    VERIFY_BROADCAST_MAX_BYTES,
    _drop_wide_buckets,
    _estimate_shingle_bytes,
    _new_driven_pairs,
    auto_band_width,
    band_signatures,
    hashed_shingles,
    minhash_signatures,
)
from .store import (  # noqa: F401 -- MANIFEST, read_manifest, stream_batch_id: public API
    MANIFEST,
    VERSION,
    build_once,
    commit_batch,
    committed,
    fold,
    gen_dir,
    link_fold,
    lock,
    part_files,
    read_manifest,
    relation,
    reset,
    run_stream,
    stage_batch,
    stream_batch_id,
    sweep,
    write_manifest,
)

from ..cache import slot
from ..queries import register, t

#: The slot dedup's miners fill too: one mining pass, inline or against a
#: store, is cached at a time.
_MINE = slot("minhash_mining")


def _common_dir(path: str, m: dict) -> str:
    """The frozen-DF boilerplate relation: ``common`` at build time,
    ``common-g<N>`` after N refreezes (its own counter, because
    compactions bump ``generation`` without touching the DF table)."""
    return gen_dir(path, "common", m.get("common_generation", 0))


def write_signature_store(
    df: DataFrame,
    path: str,
    k: int = 5,
    num_perms: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float = 0.1,
    manifest_extra: dict | None = None,
) -> dict:
    """Build the corpus's signature store at ``path`` (parquet + manifest)
    and return the manifest.  One pass of the mining front-half -- the
    same relations the inline miner persists in memory, written durable.

    Manifest written last; a rebuild over an existing store resets it
    first (the protocol: :mod:`.store`)."""
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism

    with lock(path):
        reset(path, ("shingles", "banded", "common"))

        hashed = hashed_shingles(df, k, text_col, id_col)
        hashed.repartition(parallelism, id_col).sortWithinPartitions(
            id_col
        ).write.mode("overwrite").parquet(os.path.join(path, "shingles"))
        # re-read rather than recompute: the shingle pass is the expensive
        # CPU; everything downstream derives from the written relation,
        # which also guarantees the store is self-consistent even if df is
        # nondeterministic upstream
        hashed = spark.read.parquet(os.path.join(path, "shingles"))
        stats = hashed.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
        ).first()
        n_docs, tot_hashes = stats["n"], stats["tot"] or 0

        tok = hashed.select(F.col(id_col), F.explode("sh").alias("h"))
        common = (
            tok.groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > F.lit(max_df) * F.lit(n_docs))
            .select("h")
        )
        common.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "common")
        )
        common = spark.read.parquet(os.path.join(path, "common"))

        banded = _sign_and_band(
            hashed, common, num_perms, bands, id_col
        )
        banded.repartition(parallelism, "band_idx", "band_key").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "banded"))

        manifest = {
            "version": VERSION,
            "k": k,
            "num_perms": num_perms,
            "bands": bands,
            "max_df": max_df,
            "id_col": id_col,
            "text_col": text_col,
            "n_docs": int(n_docs),
            "tot_hashes": int(tot_hashes),
            "n_appended": 0,
            "applied_batches": [],
            **(manifest_extra or {}),
        }
        write_manifest(path, manifest)
    return manifest


def _sign_and_band(
    hashed: DataFrame,
    common: DataFrame,
    num_perms: int,
    bands: int,
    id_col: str,
) -> DataFrame:
    """Signature + banding back-half shared by store build and batch-side
    signing: subtract the boilerplate set (broadcast 1-row array, the
    same zero-extra-shuffle form as the inline miner), drop
    boilerplate-only docs, MinHash, band."""
    common_arr = common.agg(F.collect_list("h").alias("common_hs"))
    filtered = (
        hashed.crossJoin(F.broadcast(common_arr))
        .select(
            F.col(id_col), F.array_except("sh", "common_hs").alias("shf")
        )
        .where(F.size("shf") > 0)
    )
    return band_signatures(
        minhash_signatures(filtered, num_perms, id_col),
        num_perms,
        bands,
        id_col,
    )


def incremental_pairs_stored(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    threshold: float = 0.5,
    broadcast_verify: bool | str = "auto",
    max_band_width: int | str | None = None,
    mine_disk_budget_bytes: int | None = None,
    validate_ids: bool = True,
) -> DataFrame:
    """Exact-Jaccard-verified near-dup pairs with at least one side in
    ``new_df``, mining against the persisted store: the batch side is
    hashed/signed/banded fresh (against the store's frozen DF table),
    the corpus side is READ, never recomputed.

    Per-run work: O(batch) CPU (shingle hashing, signatures) + one scan
    of the skinny stored banded relation (the candidate join's big side)
    + the verify join against stored shingle arrays.  Corpus x corpus
    candidates are never generated -- the candidate join is driven by
    the batch's banded rows, exactly like
    :func:`..operators.dedup.incremental_minhash_pairs`.

    ``max_band_width`` behaves as in the inline miner, including
    ``"auto"`` (priced over stored-plus-batch band widths).  Width is
    evaluated over the UNION, so a batch that lands in an already-wide
    stored bucket is capped consistently with a from-scratch mine."""
    m = read_manifest(store_path)
    id_col = m["id_col"]
    stored_banded = relation(spark, store_path, m, "banded")
    stored_sh = relation(spark, store_path, m, "shingles")
    common = spark.read.parquet(_common_dir(store_path, m))

    if validate_ids:
        overlap = stored_sh.select(id_col).join(
            F.broadcast(new_df.select(id_col).distinct()),
            id_col,
            "left_semi",
        )
        if not overlap.isEmpty():
            sample = [r[0] for r in overlap.limit(5).collect()]
            raise ValueError(
                f"incremental_pairs_stored: store at {store_path} and "
                f"new_df share doc ids (e.g. {sample}); ids must be "
                "disjoint (append_batch after mining keeps them so)"
            )

    _MINE.evict()
    hashed_new = _MINE.hold(
        hashed_shingles(new_df, m["k"], m["text_col"], id_col)
    )
    new_stats = hashed_new.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
    ).first()
    if broadcast_verify == "auto":
        # the gate must size the WHOLE shingle relation the verify join
        # builds from: base corpus + every appended batch + this batch
        # (append_batch keeps tot_hashes current for exactly this)
        broadcast_verify = (
            _estimate_shingle_bytes(
                m["n_docs"] + m.get("n_appended", 0) + new_stats["n"],
                m["tot_hashes"] + (new_stats["tot"] or 0),
            )
            <= VERIFY_BROADCAST_MAX_BYTES
        )

    banded_new = _MINE.hold(
        _sign_and_band(hashed_new, common, m["num_perms"], m["bands"], id_col)
    )
    banded_all = stored_banded.unionByName(banded_new)
    if max_band_width == "auto":
        # price the batch-driven candidate shape (wn*(w-wn) + wn-choose-2
        # per bucket), not the self-join's w-choose-2 -- a huge store
        # with a small batch would otherwise spuriously raise or over-cap
        max_band_width = auto_band_width(
            banded_all, mine_disk_budget_bytes, new_banded=banded_new
        )
    if max_band_width is not None:
        banded_all, banded_new = _drop_wide_buckets(
            banded_all, max_band_width, banded_new
        )

    sh_all = stored_sh.unionByName(hashed_new)
    return _new_driven_pairs(
        banded_new, banded_all, sh_all, threshold, id_col, broadcast_verify
    )


def append_batch(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    batch_id: str | None = None,
) -> dict:
    """Fold a mined batch into the store: its shingle and banded rows
    (signed against the frozen DF table -- identical to what
    :func:`incremental_pairs_stored` just banded) land as ONE batch
    directory, committed by the manifest.  The DF table stays frozen;
    rebuild the store when ``n_appended`` approaches ~10-20% of
    ``n_docs``.

    Crash-safe and idempotent by ``batch_id`` (stage, rename, commit;
    the protocol: :mod:`.store`): a retry with the SAME id heals a crash
    and a retry of a committed id -- applied OR folded by a compaction --
    is a no-op.  Callers wanting retry safety must therefore pass a
    stable ``batch_id`` (e.g. the ingest date); the default is a fresh
    UUID (no retry identity)."""
    import uuid

    from pyspark import StorageLevel

    m = read_manifest(store_path)
    if batch_id is None:
        batch_id = uuid.uuid4().hex[:12]
    if batch_id in committed(m):
        return m  # re-appending a compacted batch would duplicate its docs
    id_col = m["id_col"]

    def write(tmp: str) -> None:
        hashed_new = hashed_shingles(
            new_df, m["k"], m["text_col"], id_col
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            hashed_new.write.mode("overwrite").parquet(
                os.path.join(tmp, "shingles")
            )
            common = spark.read.parquet(_common_dir(store_path, m))
            _sign_and_band(
                hashed_new, common, m["num_perms"], m["bands"], id_col
            ).write.mode("overwrite").parquet(os.path.join(tmp, "banded"))
        finally:
            hashed_new.unpersist()

    final_dir = stage_batch(store_path, batch_id, write)
    # stats from the COMMITTED files, so a heal-retry (dir present,
    # manifest behind) books exactly what the store actually holds
    stats = (
        spark.read.parquet(os.path.join(final_dir, "shingles"))
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
        )
        .first()
    )

    def book(m: dict) -> None:
        m["n_appended"] = int(m["n_appended"]) + int(stats["n"])
        # keep the verify-broadcast size gate honest as the store grows
        m["tot_hashes"] = int(m["tot_hashes"]) + int(stats["tot"] or 0)

    return commit_batch(store_path, batch_id, book)


def stream_mine_and_append(
    stream_df: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    max_band_width: int | str | None = None,
    await_seconds: int = 1800,
    trigger: dict | None = None,
):
    """Structured-Streaming ingestion for the signature store: each
    micro-batch is mined against the current store (new-side-driven, the
    x77 path) and appended, inside one ``foreachBatch`` sink -- the
    daily loop of daily_loop_rung.py driven by a stream source instead
    of a hand-written loop.  The default trigger is ``availableNow`` +
    the file source's ``maxFilesPerTrigger`` shaping the micro-batches;
    pass ``trigger={"processingTime": "..."}`` for a continuous run over
    a growing directory (the 100 TB shape) -- the sink body is
    trigger-agnostic and the call then RETURNS the live StreamingQuery
    for the caller to stop (proven by stream_store_rung.py's triggered
    block).

    Idempotency rides on the streaming epoch scoped to the checkpoint
    lineage (:func:`stream_batch_id`): a micro-batch replayed after a
    crash/restart (foreachBatch's at-least-once contract) is recognized
    among the manifest's committed batches -- applied OR already folded
    by a compaction -- and skipped entirely, and a restart of a
    completed run appends ZERO new batches (the checkpoint replays
    nothing; even if it did, the manifest guard holds), while a FRESH
    checkpoint over the same store gets non-colliding ids.  The mined
    pair sets land one parquet subdirectory per epoch
    (``pairs_path/epoch-*/``, mode=overwrite), so a replay that died
    between the pairs write and the append commit rewrites the same
    directory instead of double-appending rows -- the pairs sink is
    exactly-once BY PATH, the store append exactly-once by manifest.
    """

    def body(batch_df: DataFrame, batch_id: str, m: dict) -> None:
        sess = batch_df.sparkSession
        pairs = incremental_pairs_stored(
            sess,
            store_path,
            batch_df,
            threshold=threshold,
            max_band_width=max_band_width,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, batch_id)
        )
        append_batch(sess, store_path, batch_df, batch_id=batch_id)

    return run_stream(
        stream_df,
        store_path,
        checkpoint,
        body,
        trigger,
        await_seconds,
        "stream_mine_and_append",
    )


def _sweep(store_path: str, m: dict) -> None:
    g = m.get("generation", 0)
    sweep(
        store_path,
        m,
        {"shingles": g, "banded": g, "common": m.get("common_generation", 0)},
    )


def compact_store(spark: SparkSession, store_path: str) -> dict:
    """Fold every applied batch into the base relations -- the retention
    half of the daily-ingest contract.  :func:`append_batch` accumulates
    one directory per batch and every read unions them all, so after
    months of daily appends a mine pays N-dir scan overhead (file
    listing, footer reads, small-file parquet scans) that compaction
    folds back to one well-partitioned relation per store.  Run it on
    the same cadence you'd vacuum any LSM-shaped store -- e.g. every ~10
    appends (the SF10 rung records read-side wall flat after compaction
    at exactly that point).

    Semantics are purely physical: the folded relations hold exactly the
    union of base + applied batches (pinned by the equality test), the
    frozen DF table (``common/``) is untouched, and ``n_docs`` /
    ``n_appended`` keep their meanings (appends since DF freeze -- the
    rebuild-the-store drift signal must survive compaction, so
    compaction does NOT fold ``n_appended`` into ``n_docs``).

    Generation swap, reader grace and sweep: the protocol in
    :mod:`.store` (with no applied batches, a sweep-only pass)."""
    parallelism = spark.sparkContext.defaultParallelism
    with lock(store_path):
        m = read_manifest(store_path)
        _sweep(store_path, m)
        if not m.get("applied_batches"):
            return m  # nothing to fold: sweep-only pass
        new_gen = m.get("generation", 0) + 1
        id_col = m["id_col"]

        sh = relation(spark, store_path, m, "shingles")
        sh.repartition(parallelism, id_col).sortWithinPartitions(
            id_col
        ).write.mode("overwrite").parquet(
            gen_dir(store_path, "shingles", new_gen)
        )
        banded = relation(spark, store_path, m, "banded")
        banded.repartition(
            parallelism, "band_idx", "band_key"
        ).write.mode("overwrite").parquet(
            gen_dir(store_path, "banded", new_gen)
        )

        fold(m, new_gen)
        write_manifest(store_path, m)
    return m


def refreeze_common(spark: SparkSession, store_path: str) -> dict:
    """Recompute the frozen DF table from the STORED shingle relation --
    the drift half of the store lifecycle.  The boilerplate set and the
    ``max_df`` denominator freeze at build time over the then-corpus;
    as appends accumulate, a shingle's true corpus-wide frequency can
    drift across the threshold (the manifest's ``n_appended`` vs
    ``n_docs`` is the monitor).  The r11 guidance was a full store
    rebuild -- an O(corpus) re-SHINGLE over raw text.  But the shingle
    rows are already persisted: this recomputes ``common/`` by one
    aggregation over the stored relation and re-signs/re-bands from the
    same stored arrays, skipping the text pass entirely (shingling is
    the dominant CPU; signing is numeric work on the hashed arrays).

    A refreeze is a LOGICAL fold plus a DF recompute: the banded
    relation embeds the boilerplate filter, so a new ``common`` forces
    one re-band -- written as the next generation, committed by the
    store's manifest swap (protocol: :mod:`.store`).  The shingle fold
    is done at the FILE level (:func:`.store.link_fold`: every part file
    of the base and batch shingle dirs hard-linked into the new
    generation dir) -- zero data pass, because the union of those files
    IS the folded relation (append validation keeps ids disjoint) and
    each source dir keeps the locality its own write gave it; physical
    re-layout stays :func:`compact_store`'s job.  ``n_docs``/
    ``tot_hashes`` come from the manifest (append_batch books exact
    deltas from the committed files), so the only data the refreeze
    reads is the one cached shingle pass feeding the DF aggregation and
    the re-band.  After it, the store is byte-equivalent in mining
    behavior to one freshly built over the full current corpus (pinned
    by test_refreeze_equals_fresh_build): ``n_docs`` becomes the full
    count, ``n_appended`` resets to 0, and the drift clock restarts."""
    from pyspark import StorageLevel

    parallelism = spark.sparkContext.defaultParallelism
    with lock(store_path):
        m = read_manifest(store_path)
        _sweep(store_path, m)
        new_gen = m.get("generation", 0) + 1
        new_cg = m.get("common_generation", 0) + 1
        id_col = m["id_col"]

        sh_dst = gen_dir(store_path, "shingles", new_gen)
        link_fold(
            sh_dst,
            [gen_dir(store_path, "shingles", m.get("generation", 0))]
            + [
                os.path.join(store_path, "batches", b, "shingles")
                for b in m.get("applied_batches", [])
            ],
        )
        # exact by construction: build counted its corpus, every append
        # booked the committed batch's delta under the flock
        n_docs = int(m["n_docs"]) + int(m["n_appended"])
        tot_hashes = int(m["tot_hashes"])

        hashed = spark.read.parquet(sh_dst).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            tok = hashed.select(F.col(id_col), F.explode("sh").alias("h"))
            common = (
                tok.groupBy("h")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > F.lit(m["max_df"]) * F.lit(n_docs))
                .select("h")
            )
            common_dst = gen_dir(store_path, "common", new_cg)
            common.coalesce(1).write.mode("overwrite").parquet(common_dst)
            common = spark.read.parquet(common_dst)

            banded = _sign_and_band(
                hashed, common, m["num_perms"], m["bands"], id_col
            )
            banded.repartition(
                parallelism, "band_idx", "band_key"
            ).write.mode("overwrite").parquet(
                gen_dir(store_path, "banded", new_gen)
            )
        finally:
            hashed.unpersist()

        fold(m, new_gen, common_generation=new_cg)
        m["n_docs"] = int(n_docs)
        m["tot_hashes"] = int(tot_hashes)
        m["n_appended"] = 0
        write_manifest(store_path, m)
    return m


# -- registry -----------------------------------------------------------------

from .dedup import _duck_mh_sigs, _X73_CUT  # noqa: E402


#: Above this many part files, a serial driver-side footer walk stops
#: being "metadata-cheap"; hand the count to a distributed Spark job.
_FOOTER_COUNT_MAX_FILES = 256


def footer_row_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """COUNT(*) of an unfiltered base table from parquet footer metadata
    alone (reference O9: count answered from metadata, not a data pass).
    ``num_rows`` is part of the parquet footer contract, so this equals
    ``t(spark, sf_dir, table).count()`` exactly -- but costs a few
    driver-side footer reads instead of a full Spark job (~0.15 s fixed
    overhead per bench entry).  O(#files) on the driver: past
    ``_FOOTER_COUNT_MAX_FILES`` part files (the 100 TB layout) it falls
    back to the distributed count rather than serializing a huge file
    walk on the driver."""
    parts = part_files(os.path.join(sf_dir, f"{table}.parquet"))
    if len(parts) > _FOOTER_COUNT_MAX_FILES:
        from ..queries import t

        return t(spark, sf_dir, table).count()
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in parts)


def _cached_store(
    sf_dir: str, n_docs: int, cut: int, build, ready=None, variant: str = ""
) -> str:
    """The registry's corpus store under the content-addressed cache
    (:func:`.store.build_once`), keyed on (sf_dir, n, cut).  ``variant``
    separates entries that share those but drive the store through
    different lifecycles (x78 compacts where x80 refreezes -- same base
    cut, incompatible end states)."""
    return build_once(
        "/tmp/conecta_spark_sigstore",
        f"{sf_dir}|{n_docs}|{cut}|v{VERSION}{variant}",
        os.path.join(sf_dir, "documents.parquet"),
        build,
        ready,
    )


@register(
    "x77_stored_incremental_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        ),
        df_pred=f"doc_id < {_X73_CUT}",
    ),
    "PERSISTED-STORE incremental near-dup mining: the corpus's banded "
    "signatures, shingle arrays, and frozen DF table are built once and "
    "written as a parquet signature store; the 'new batch' (newest fifth "
    "of doc ids) is hashed/signed/banded fresh against the frozen DF "
    "table and band-joined against the STORED relation -- corpus "
    "signatures are read, never recomputed (the r9 verdict's daily-"
    "ingest contract; x73 recomputes both sides every run).  Oracle = "
    "the x07 pipeline with DF statistics scoped to the corpus slice "
    "(frozen-DF semantics, df_pred) and the x73 cross-side candidate "
    "predicate",
)
def x77_stored_incremental(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    cut = (4 * n) // 5
    id_col = "doc_id"
    corpus = docs.where(F.col(id_col) < cut)
    new = docs.where(F.col(id_col) >= cut)
    path = _cached_store(
        sf_dir,
        n,
        cut,
        lambda path, extra: write_signature_store(
            corpus, path, manifest_extra=extra
        ),
    )
    # validate_ids=False: store base and batch are two disjoint id
    # slices of ONE keyed table (doc_id < cut vs >= cut), so overlap
    # is impossible by construction -- the guard's documented escape
    # hatch (the x73 precedent); skips a per-run stored-shingle scan
    return incremental_pairs_stored(
        spark, path, new, threshold=0.5, validate_ids=False
    )


#: x78's store is built on the OLDEST three fifths of doc ids, one
#: "day-1" batch (the fourth fifth) is appended and compacted, and the
#: newest fifth is the mined batch -- the full store lifecycle (build,
#: append, compact, mine) behind one oracle-checked pair set.  The DF
#: table freezes at build time over the 3/5 base slice; the pair
#: predicate is x73/x77's "at least one side in the newest fifth".
_X78_BASE_CUT = "(3 * (SELECT COUNT(*) FROM documents)) // 5"


@register(
    "x78_compacted_store_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        ),
        df_pred=f"doc_id < {_X78_BASE_CUT}",
    ),
    "COMPACTED-STORE incremental near-dup mining -- the full daily-"
    "ingest lifecycle: the signature store is built on the oldest three "
    "fifths of doc ids (DF table frozen there), a day-1 batch (the "
    "fourth fifth) is appended as a batch dir and then COMPACTED into "
    "the base relations (generation swap, manifest-last), and the "
    "newest fifth is mined against the folded store -- pinning that "
    "compaction is purely physical: the pair set equals what the "
    "uncompacted union of base + batch dirs yields.  Oracle = the x07 "
    "pipeline with DF statistics scoped to the 3/5 base slice "
    "(frozen-DF semantics) and the x73 cross-side candidate predicate",
)
def x78_compacted_store(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    base_cut = (3 * n) // 5
    new_cut = (4 * n) // 5
    id_col = "doc_id"
    base = docs.where(F.col(id_col) < base_cut)
    day1 = docs.where(
        (F.col(id_col) >= base_cut) & (F.col(id_col) < new_cut)
    )
    day2 = docs.where(F.col(id_col) >= new_cut)

    def build(path: str, extra: dict) -> None:
        write_signature_store(base, path, manifest_extra=extra)
        append_batch(spark, path, day1, batch_id="day-001")
        compact_store(spark, path)

    path = _cached_store(
        sf_dir,
        n,
        base_cut,
        build,
        lambda m: m.get("generation", 0) >= 1
        and not m.get("applied_batches"),
    )
    # validate_ids=False: same disjoint-slice construction as x77
    return incremental_pairs_stored(
        spark, path, day2, threshold=0.5, validate_ids=False
    )


@register(
    "x80_refrozen_store_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        ),
        df_pred=f"doc_id < {_X73_CUT}",
    ),
    "REFROZEN-STORE incremental near-dup mining -- the drift half of "
    "the store lifecycle: the signature store is built on the oldest "
    "three fifths of doc ids (DF table frozen there), the fourth fifth "
    "is appended, and refreeze_common recomputes the DF table and "
    "re-bands FROM THE STORED SHINGLE RELATION (no re-shingle of raw "
    "text), resetting the drift clock; the newest fifth is then mined "
    "against the refrozen store.  The oracle is EXACTLY x77's (DF "
    "statistics frozen over the oldest 4/5, x73 cross-side candidate "
    "predicate): a refrozen 3/5+append store must mine identically to "
    "a store built directly on the 4/5 corpus -- refreeze equals "
    "rebuild, at O(signing) instead of O(shingling) cost",
)
def x80_refrozen_store(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    base_cut = (3 * n) // 5
    new_cut = (4 * n) // 5
    id_col = "doc_id"
    base = docs.where(F.col(id_col) < base_cut)
    day1 = docs.where(
        (F.col(id_col) >= base_cut) & (F.col(id_col) < new_cut)
    )
    day2 = docs.where(F.col(id_col) >= new_cut)

    def build(path: str, extra: dict) -> None:
        write_signature_store(base, path, manifest_extra=extra)
        append_batch(spark, path, day1, batch_id="day-001")
        refreeze_common(spark, path)

    path = _cached_store(
        sf_dir,
        n,
        base_cut,
        build,
        lambda m: m.get("common_generation", 0) >= 1
        and m.get("n_appended") == 0,
        variant="|refreeze",
    )
    # validate_ids=False: same disjoint-slice construction as x77
    return incremental_pairs_stored(
        spark, path, day2, threshold=0.5, validate_ids=False
    )

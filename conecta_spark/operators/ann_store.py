"""Persisted IVF ANN index: the similarity-search half of the
daily-ingest contract.

:func:`..operators.simsearch.build_ivf_index` (x14/x42's scale path)
trains the coarse quantizer and re-assigns the WHOLE corpus on every
run -- one full embedding scan per session just to rebuild state that
never changed.  At a steady 100 TB corpus with a small daily crawl that
rebuild dwarfs both the append and the search.  This module persists
the index once, on the same store core as the MinHash signature store
(:mod:`.store`: flock, manifest-last commit, batch staging, generation
swap, grace sweep):

* :func:`write_ann_store` -- one :func:`build_ivf_index` pass (sample-
  trained quantizer + one distributed assignment), written as a
  cell-partitioned parquet relation plus the centroid matrix and a
  params manifest;
* :func:`append_ann_batch` -- assigns ONLY the new batch against the
  STORED centroids (:func:`..operators.simsearch.assign_cells`, the
  same code path the build used) into a per-batch directory; O(batch)
  CPU, the corpus is never rescanned;
* :func:`ann_store_search` -- reads the stored relation (base + applied
  batches) and runs the in-memory engine's own
  :func:`..operators.simsearch.ivf_search_batch` over it, so a stored
  search is result-identical to a fresh in-memory rebuild BY
  CONSTRUCTION (pinned in tests/test_ann_store.py);
* :func:`compact_ann_store` -- folds applied batch dirs into a
  generation-suffixed base relation (manifest-last swap), keeping
  read-side file-listing cost flat as daily appends accumulate;
* :func:`recluster_ann_store` -- the drift half: retrains the quantizer
  and re-assigns FROM THE STORED VECTORS (the source corpus is never
  re-read), bit-identical to a fresh build by construction, resetting
  ``n_appended`` at a generation bump -- the ANN analog of the
  signature store's ``refreeze_common``.

Frozen-centroid semantics -- the deliberate analog of the signature
store's frozen-DF table: centroids train once at build time and every
appended batch is assigned against them verbatim.  That is what makes
the append O(batch); retraining would re-scan the corpus.  The trade is
the same bounded drift: as appends shift the data distribution, cell
balance (and so recall-at-fixed-probe) degrades -- the manifest tracks
``n_appended`` vs ``n_vecs`` at build, and the guidance mirrors the
signature store's: rebuild (or re-run :func:`write_ann_store`) when
cumulative appends exceed ~10-20% of the corpus.

Reference parity note: the reference engine has no vector index; this
extends its surface with the ANN operation a training-data pipeline
runs daily (SURVEY.md section 2.4 extension family, r11 verdict task 6).
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .simsearch import (
    IVFIndex,
    assign_cells,
    build_ivf_index,
    ivf_search_batch,
    valid_vectors,
)
from .store import (  # noqa: F401 -- ANN_MANIFEST, read_ann_manifest: public API
    MANIFEST as ANN_MANIFEST,
    VERSION,
    build_once,
    commit_batch,
    committed,
    fold,
    gen_dir,
    lock,
    read_manifest as read_ann_manifest,
    relation,
    reset,
    run_stream,
    stage_batch,
    sweep,
    write_json,
    write_manifest,
)

CENTROIDS = "centroids.json"

#: Base relation plus applied batches of the ``assigned`` (id, v, cell)
#: relation.
_assigned_relation = partial(relation, name="assigned")


def _centroids_file(path: str, m: dict) -> str:
    """Centroid matrix file for the manifest's centroid generation:
    ``centroids.json`` at generation 0 (every pre-recluster store),
    ``centroids-g<N>.json`` after N reclusters.  Generation-suffixed like
    the signature store's ``common-g<N>``, and for the same reason:
    readers take no lock, and a reader that routed a query with the OLD
    centroid matrix must keep resolving against the OLD assignment --
    cells are renumbered by a recluster, so an unversioned overwrite
    would let stale routing meet fresh cell ids mid-search."""
    return gen_dir(path, CENTROIDS, m.get("centroid_generation", 0))


def _write_centroids(path: str, gen: int, centers) -> None:
    write_json(
        gen_dir(path, CENTROIDS, gen),
        [[float(x) for x in c] for c in centers],
    )


def read_centroids(path: str, m: dict | None = None):
    if m is None:
        m = read_ann_manifest(path)
    with open(_centroids_file(path, m)) as f:
        return [list(map(float, c)) for c in json.load(f)]


def write_ann_store(
    df: DataFrame,
    path: str,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    manifest_extra: dict | None = None,
) -> dict:
    """Build the corpus's ANN store at ``path`` and return the manifest:
    one :func:`build_ivf_index` pass (so the quantizer sample, k-means
    draw, and assignment are bit-identical to the in-memory engine's),
    with the assigned relation written repartitioned by ``cell`` --
    searches prefilter on cell, so cell-clustered files turn the probe
    into a row-group-skipping scan of ~n_probe/n_clusters of the data.

    Manifest written last; a rebuild over an existing store resets it
    first (the protocol: :mod:`.store`)."""
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    with lock(path):
        reset(path, ("assigned", CENTROIDS))

        if valid_vectors(df, vec_col, id_col).isEmpty():
            raise ValueError(
                "write_ann_store: corpus has no valid vectors"
            )
        index = build_ivf_index(
            df,
            n_clusters=n_clusters,
            vec_col=vec_col,
            id_col=id_col,
            seed=seed,
        )
        try:
            index.assigned.repartition(parallelism, "cell").write.mode(
                "overwrite"
            ).parquet(os.path.join(path, "assigned"))
            n_vecs = spark.read.parquet(
                os.path.join(path, "assigned")
            ).count()
            dim = len(index.centers[0])
            _write_centroids(path, 0, index.centers)
        finally:
            index.unpersist()

        manifest = {
            "version": VERSION,
            "n_clusters": int(n_clusters),
            "dim": int(dim),
            "vec_col": vec_col,
            "id_col": id_col,
            "seed": int(seed),
            "n_vecs": int(n_vecs),
            "n_appended": 0,
            "applied_batches": [],
            **(manifest_extra or {}),
        }
        write_manifest(path, manifest)
    return manifest


def append_ann_batch(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    batch_id: str | None = None,
    validate_ids: bool = True,
) -> dict:
    """Assign a new batch against the STORED centroids (frozen-centroid
    semantics -- no retrain, no corpus rescan) and fold it in as one
    batch directory, committed by the manifest.

    Same idempotency contract as the signature store's append (the
    protocol: :mod:`.store`): a retry of a committed id -- applied OR
    already folded by a compaction -- is a no-op, so pass a stable
    ``batch_id`` (e.g. the ingest date) for retry safety."""
    import uuid

    m = read_ann_manifest(store_path)
    if batch_id is None:
        batch_id = uuid.uuid4().hex[:12]
    if batch_id in committed(m):
        return m  # already committed: idempotent no-op
    id_col, vec_col = m["id_col"], m["vec_col"]
    new_vecs = valid_vectors(new_df, vec_col, id_col).select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    if validate_ids:
        overlap = (
            _assigned_relation(spark, store_path, m)
            .select(id_col)
            .join(
                F.broadcast(new_vecs.select(id_col).distinct()),
                id_col,
                "left_semi",
            )
        )
        if not overlap.isEmpty():
            sample = [r[0] for r in overlap.limit(5).collect()]
            raise ValueError(
                f"append_ann_batch: store at {store_path} and new_df "
                f"share vector ids (e.g. {sample}); ids must be disjoint"
            )

    final_dir = stage_batch(
        store_path,
        batch_id,
        lambda tmp: assign_cells(
            new_vecs, read_centroids(store_path, m), id_col
        ).write.mode("overwrite").parquet(os.path.join(tmp, "assigned")),
    )
    # stats from the COMMITTED files (heal-retry books what's on disk)
    n_new = spark.read.parquet(os.path.join(final_dir, "assigned")).count()

    def book(m: dict) -> None:
        m["n_appended"] = int(m.get("n_appended", 0)) + int(n_new)

    return commit_batch(store_path, batch_id, book)


def ann_store_search(
    spark: SparkSession,
    store_path: str,
    query_ids,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Top-k by exact cosine within the ``n_probe`` stored cells nearest
    each query -- :func:`..operators.simsearch.ivf_search_batch` run
    over the persisted relation instead of a fresh rebuild, so results
    are identical to the in-memory engine's by construction.  Per-search
    cost: one driver read of the centroid matrix (KBs), one collect of
    the |panel| query vectors (cell prefilter pushed to parquet), and
    one cell-pruned scan -- the corpus is never re-assigned."""
    m = read_ann_manifest(store_path)
    index = IVFIndex(
        _assigned_relation(spark, store_path, m),
        read_centroids(store_path, m),
        m["id_col"],
    )
    return ivf_search_batch(index, query_ids, k=k, n_probe=n_probe)


def _sweep(store_path: str, m: dict) -> None:
    sweep(
        store_path,
        m,
        {
            "assigned": m.get("generation", 0),
            CENTROIDS: m.get("centroid_generation", 0),
        },
    )


def compact_ann_store(spark: SparkSession, store_path: str) -> dict:
    """Fold every applied batch into the base relation -- retention for
    the daily loop, the same generation swap and grace sweep as the
    signature store's :func:`compact_store` (the protocol: :mod:`.store`).
    Purely physical: the folded relation holds exactly base + batches
    (repartitioned by cell), centroids are untouched, and ``n_appended``
    keeps its drift-signal meaning."""
    parallelism = spark.sparkContext.defaultParallelism
    with lock(store_path):
        m = read_ann_manifest(store_path)
        _sweep(store_path, m)
        if not m.get("applied_batches"):
            return m  # nothing to fold: sweep-only pass
        new_gen = m.get("generation", 0) + 1
        rel = _assigned_relation(spark, store_path, m)
        rel.repartition(parallelism, "cell").write.mode(
            "overwrite"
        ).parquet(gen_dir(store_path, "assigned", new_gen))
        fold(m, new_gen)
        write_manifest(store_path, m)
    return m


def _probe_cells(qvecs: DataFrame, centers, n_probe: int) -> DataFrame:
    """(query_id, qv) -> (query_id, qv, cell) x n_probe: each query row
    exploded to its ``n_probe`` nearest centroids.  The same Arrow-
    batched closure-broadcast pattern as simsearch.assign_cells (the
    centroid matrix is KBs), stable argsort so distance ties break by
    cell index exactly like ivf_search_batch's driver-side sort -- but
    computed DISTRIBUTED, so a large incoming batch never collects to
    the driver."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)
    c2 = (C ** 2).sum(axis=1)
    n_probe = min(int(n_probe), len(C))

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf["qv"].tolist(), dtype=np.float64)
            D = (
                (M ** 2).sum(axis=1)[:, None]
                - 2.0 * (M @ C.T)
                + c2[None, :]
            )
            cells = np.argsort(D, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy().repeat(n_probe),
                    "qv": [
                        v
                        for v in pdf["qv"].to_numpy()
                        for _ in range(n_probe)
                    ],
                    "cell": cells.ravel().astype("int32"),
                }
            )

    return qvecs.select("query_id", "qv").mapInPandas(
        probe, "query_id long, qv array<double>, cell int"
    )


def ivf_search_new(
    index: IVFIndex, qvecs: DataFrame, k: int = 10, n_probe: int = 2
) -> DataFrame:
    """Top-k stored neighbors for EXTERNAL query vectors -- the
    ingest-side search: ``qvecs`` is (query_id, qv array<double>) rows
    that are NOT in the index (an arriving crawl batch screened against
    the corpus before being appended).  simsearch.ivf_search_batch
    routes panel queries driver-side because a panel is a handful of
    ids; an ingest batch is unbounded, so here cell routing runs as a
    distributed Arrow pass (:func:`_probe_cells`) and candidates come
    from one equi-join on ``cell`` -- no driver collect anywhere, AQE
    free to broadcast whichever side is small.  Scoring and (score
    desc, id) tie-breaks match ivf_search_batch exactly."""
    from pyspark.sql.window import Window

    from ..functions.vector import cosine_expr

    id_col = index.id_col
    dim = len(index.centers[0])
    scored = (
        index.assigned.join(_probe_cells(qvecs, index.centers, n_probe), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(F.expr(cosine_expr("v", "qv", dim)), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def stream_assign_and_append(
    stream_df: DataFrame,
    store_path: str,
    neighbors_path: str,
    checkpoint: str,
    k: int = 10,
    n_probe: int = 2,
    await_seconds: int = 1800,
    trigger: dict | None = None,
):
    """Structured-Streaming ingestion for the ANN store -- the
    similarity twin of minhash_store.stream_mine_and_append, sharing its
    exactly-once machinery verbatim: each micro-batch of embeddings is
    SCREENED against the current store (:func:`ivf_search_new`: every
    arriving vector's top-k stored neighbors -- the SemDeDup/
    decontamination-on-arrival shape) and then appended against the
    frozen stored centroids, inside one ``foreachBatch`` sink.

    The default trigger is ``availableNow``; pass
    ``trigger={"processingTime": ...}`` for a continuous run over a
    growing source (the call then RETURNS the live StreamingQuery for
    the caller to stop -- the sink body is trigger-agnostic).
    Idempotency: the batch id is the streaming epoch scoped to the
    checkpoint lineage (:func:`.store.stream_batch_id`), checked against
    the manifest's committed set (applied OR compacted), so a replayed
    epoch is a no-op; neighbor sets land one parquet dir per epoch
    (``neighbors_path/<batch_id>/``, mode=overwrite -- exactly-once BY
    PATH), and the store append is exactly-once by manifest.  Neighbors
    are computed against the store BEFORE the batch joins it:
    intra-batch duplicates are the NEXT epoch's problem by design,
    exactly like the signature store's new-driven mine."""

    def body(batch_df: DataFrame, batch_id: str, m: dict) -> None:
        sess = batch_df.sparkSession
        id_col, vec_col = m["id_col"], m["vec_col"]
        qvecs = valid_vectors(batch_df, vec_col, id_col).select(
            F.col(id_col).alias("query_id"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias(
                "qv"
            ),
        )
        index = IVFIndex(
            _assigned_relation(sess, store_path, m),
            read_centroids(store_path, m),
            id_col,
        )
        ivf_search_new(index, qvecs, k=k, n_probe=n_probe).write.mode(
            "overwrite"
        ).parquet(os.path.join(neighbors_path, batch_id))
        append_ann_batch(sess, store_path, batch_df, batch_id=batch_id)

    return run_stream(
        stream_df,
        store_path,
        checkpoint,
        body,
        trigger,
        await_seconds,
        "stream_assign_and_append",
    )


def recluster_ann_store(
    spark: SparkSession, store_path: str, n_clusters: int | None = None
) -> dict:
    """Reset the frozen-centroid drift clock FROM THE STORED VECTORS --
    the ANN analog of the signature store's :func:`refreeze_common`.

    ``write_ann_store``'s centroids train once; appended batches are
    assigned against them verbatim, and as appends shift the data
    distribution, cell balance (and recall at fixed n_probe) degrades.
    The pre-recluster guidance was a full rebuild -- an O(corpus)
    re-read of the SOURCE embeddings.  But the vectors are already
    persisted in the assigned relation: this retrains the quantizer and
    re-assigns from the STORE, through :func:`build_ivf_index`'s own
    code path (``feat=`` short-circuit), so the result is BIT-IDENTICAL
    to a fresh :func:`write_ann_store` over the same corpus -- the
    id-hash sample draw, the seeded k-means, and the Arrow assignment
    pass see exactly the same (id, v) rows (pinned by
    tests/test_ann_store.py::test_recluster_equals_fresh_build).  The
    source corpus is never touched.

    Commit discipline is the shared one (:mod:`.store`): new assignment
    written as the next generation, new centroid matrix as the next
    ``centroids-g<N>.json`` (readers holding the old manifest keep
    routing old centroids against the old generation), manifest-last
    swap; ``n_vecs`` absorbs ``n_appended``, which resets to 0."""
    parallelism = spark.sparkContext.defaultParallelism
    with lock(store_path):
        m = read_ann_manifest(store_path)
        _sweep(store_path, m)
        new_gen = m.get("generation", 0) + 1
        new_cg = m.get("centroid_generation", 0) + 1
        id_col = m["id_col"]
        k_cells = int(n_clusters or m["n_clusters"])

        rel = _assigned_relation(spark, store_path, m)
        index = build_ivf_index(
            rel,
            n_clusters=k_cells,
            id_col=id_col,
            seed=int(m["seed"]),
            feat=rel,
        )
        try:
            index.assigned.repartition(parallelism, "cell").write.mode(
                "overwrite"
            ).parquet(gen_dir(store_path, "assigned", new_gen))
            _write_centroids(store_path, new_cg, index.centers)
        finally:
            index.unpersist()

        fold(m, new_gen, centroid_generation=new_cg, n_clusters=k_cells)
        m["n_vecs"] = int(m["n_vecs"]) + int(m.get("n_appended", 0))
        m["n_appended"] = 0
        write_manifest(store_path, m)
    return m


# -- registry -----------------------------------------------------------------

from ..queries import register, t  # noqa: E402
from .minhash_store import footer_row_count  # noqa: E402
from .simsearch import (  # noqa: E402
    ANN_QUERY_IDS,
    DIM,
    _exact_topk_panel,
    _panel_prep,
    _with_recall_flag,
    duck_cosine,
)

_DUCK_PANEL_SQL = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv FROM e "
    f" WHERE vec_id IN {ANN_QUERY_IDS}) "
    "SELECT query_id, vec_id, score, rank, TRUE AS recall_ok FROM ("
    " SELECT q.query_id, e.vec_id, round("
    + duck_cosine("e.v", "q.qv", DIM)
    + ", 6) AS score, "
    "  row_number() OVER (PARTITION BY q.query_id ORDER BY round("
    + duck_cosine("e.v", "q.qv", DIM)
    + ", 6) DESC, e.vec_id) AS rank "
    " FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id) t WHERE rank <= 10"
)


def _cached_ann_store(sf_dir: str, label: str, build, ready) -> str:
    """The registry's ANN store under the content-addressed cache
    (:func:`.store.build_once`), keyed on (sf_dir, label)."""
    return build_once(
        "/tmp/conecta_spark_annstore",
        f"{sf_dir}|ann|{label}|v{VERSION}",
        os.path.join(sf_dir, "embeddings.parquet"),
        build,
        ready,
    )


@register(
    "x79_ann_store_search",
    _DUCK_PANEL_SQL,
    "PERSISTED-ANN-INDEX search -- the full store lifecycle: IVF "
    "centroids + cell assignments built once over the oldest 4/5 of "
    "vec_ids and written as a parquet ANN store, the newest fifth "
    "appended as a batch assigned against the STORED centroids (frozen-"
    "centroid semantics, no retrain), and the x14 acceptance panel "
    "searched against the stored relation (8/16 cells probed) -- the "
    "corpus is read, never re-assigned.  Metric-oracled exactly like "
    "x14: exact cosine top-10 panel cross-checked by DuckDB + measured "
    "recall@10 acceptance flag (mean over 5 queries >= 0.5, the "
    "isotropic-corpus coverage bound)",
)
def x79_ann_store(spark, sf_dir) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    prep = _panel_prep(spark, sf_dir)
    if prep.isEmpty():
        return _with_recall_flag(
            _exact_topk_panel(emb, "cosine", vecs=prep), {}, 0.5
        )
    n = footer_row_count(spark, sf_dir, "embeddings")
    cut = (4 * n) // 5

    def build(path: str, extra: dict) -> None:
        write_ann_store(
            emb.where(F.col("vec_id") < cut), path, manifest_extra=extra
        )
        append_ann_batch(
            spark,
            path,
            emb.where(F.col("vec_id") >= cut),
            batch_id="day-001",
        )

    path = _cached_ann_store(
        sf_dir, f"{n}|{cut}", build, lambda m: "day-001" in committed(m)
    )
    ann: dict = {}
    for r in (
        ann_store_search(spark, path, ANN_QUERY_IDS, k=10, n_probe=8)
        .select("query_id", "vec_id")
        .collect()
    ):
        ann.setdefault(r.query_id, []).append(r.vec_id)
    return _with_recall_flag(
        _exact_topk_panel(emb, "cosine", vecs=prep), ann, 0.5
    )


@register(
    "x81_reclustered_ann_search",
    _DUCK_PANEL_SQL,
    "RECLUSTERED-ANN-INDEX search -- the drift half of the persisted "
    "index lifecycle: store built over the oldest 3/5 of vec_ids, two "
    "daily batches appended against the FROZEN build-time centroids, "
    "then recluster_ann_store retrains the quantizer and re-assigns "
    "FROM THE STORED VECTORS (the source embeddings are never re-read; "
    "bit-identical to a fresh full-corpus build by construction, pinned "
    "in tests/test_ann_store.py::test_recluster_equals_fresh_build), "
    "resetting the n_appended drift clock at a generation bump; the "
    "x14 acceptance panel then searches the reclustered store (8/16 "
    "cells probed).  Metric-oracled exactly like x14/x79: exact cosine "
    "top-10 panel cross-checked by DuckDB + measured recall@10 "
    "acceptance flag (mean over 5 queries >= 0.5)",
)
def x81_reclustered_ann(spark, sf_dir) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    prep = _panel_prep(spark, sf_dir)
    if prep.isEmpty():
        return _with_recall_flag(
            _exact_topk_panel(emb, "cosine", vecs=prep), {}, 0.5
        )
    n = footer_row_count(spark, sf_dir, "embeddings")
    c1, c2 = (3 * n) // 5, (4 * n) // 5

    def build(path: str, extra: dict) -> None:
        write_ann_store(
            emb.where(F.col("vec_id") < c1), path, manifest_extra=extra
        )
        append_ann_batch(
            spark,
            path,
            emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2)),
            batch_id="day-001",
        )
        append_ann_batch(
            spark,
            path,
            emb.where(F.col("vec_id") >= c2),
            batch_id="day-002",
        )
        recluster_ann_store(spark, path)

    path = _cached_ann_store(
        sf_dir,
        f"recluster|{n}|{c1}|{c2}",
        build,
        lambda m: m.get("centroid_generation", 0) >= 1
        and "day-002" in committed(m),
    )
    ann: dict = {}
    for r in (
        ann_store_search(spark, path, ANN_QUERY_IDS, k=10, n_probe=8)
        .select("query_id", "vec_id")
        .collect()
    ):
        ann.setdefault(r.query_id, []).append(r.vec_id)
    return _with_recall_flag(
        _exact_topk_panel(emb, "cosine", vecs=prep), ann, 0.5
    )

"""Semantic dedup-on-ingest: an embedding stream whose every
micro-batch keeps only vectors that are NOT near-duplicates (cosine ≥
threshold) of anything already kept — the embedding sibling of
``streaming/dedup_ingest.py`` (which gates on lexical MinHash).

per micro-batch:
  1. redelivery guard — drop ids already in the ANN index (one-table,
     id-pruned scan; checkpoint replays become no-ops)
  2. corpus gate — multi-probe LSH lookup against the persisted ANN
     index (``ann_topk_from_index``, k=1): batch vectors whose best
     kept-corpus match reaches ``threshold`` are dropped. The corpus
     side is a precomputed (tbl, bucket, cid, cv) scan — no hyperplane
     math over the kept corpus at ingest time, and candidates are
     bucket-bounded, never corpus × batch.
  3. within-batch gate — ``embedding_near_dup`` pairs (same dials) →
     transitive ``dup_clusters``; each cluster keeps its min id
  4. land survivors — epoch-keyed directory overwrite + guarded
     ``append_to_ann_index``, the same idempotent-apply ∘
     at-least-once composition as dedup_ingest: whichever write a
     crash interrupts, the replay completes it; whichever committed,
     the replay no-ops it.

The gate inherits LSH recall (a pair disagreeing on every probed
bucket is missed — raise n_tables/probe_radius to tighten), exactly
the trade the batch operators document. Dials live in the index's
``_meta.json`` sidecar; the stream reads them from there so an ingest
can never probe with the wrong code width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators.dedup import dup_clusters
from ..operators.indexmeta import check_index_meta, read_index_meta
from ..operators.similarity import (
    _ann_existing_ids,
    ann_topk_from_index,
    append_to_ann_index,
    embedding_near_dup,
    write_ann_index,
)
from ..session import local_frame


def init_semantic_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
) -> None:
    """Create an EMPTY ANN index (records the dials) so the first
    micro-batch has a corpus to probe — zero buckets, everything
    survives the corpus gate."""
    empty = local_frame(
        spark,
        [], f"{id_col} long, {vec_col} array<float>"
    )
    write_ann_index(
        empty, index_path, id_col, vec_col,
        n_planes=n_planes, dim=dim, n_tables=n_tables,
    )


def stream_semantic_dedup_ingest(
    spark: SparkSession,
    vectors: DataFrame,
    index_path: str,
    kept_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    probe_radius: int = 2,
    checkpoint: str | None = None,
    dedup_within_batch: bool = True,
    max_bucket_size: int | None = None,
) -> None:
    """Drain ``vectors`` (a streaming DataFrame) through the semantic
    gate into ``kept_path`` + the ANN index at ``index_path``
    (``init_semantic_index`` first).

    ``max_bucket_size`` is the within-batch LSH skew dial and defaults
    to ``None`` (exact: every same-bucket pair in the batch is
    verified) — NOT ``embedding_near_dup``'s corpus default of 1000.
    With the corpus default, a batch of >1000 near-identical vectors
    overflows every bucket, the cap drops them from pair generation,
    and the duplicates would all land as "kept" — the exact content
    the gate exists to stop. Within one micro-batch the quadratic
    worst case is batch-bounded, so exact is the right default; set
    the dial only when batches are huge AND boilerplate floods are
    handled upstream."""
    check_index_meta(spark, index_path, {"kind": "ann"})
    meta = read_index_meta(spark, index_path)

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        indexed = _ann_existing_ids(spark, index_path).withColumnRenamed(
            "cid", "_seen"
        )
        # Unindexable vectors (null/empty/zero-norm/NaN/Inf) get NULL
        # cosine in BOTH gates, so they would always "survive" and pile
        # junk into the kept corpus and the ANN index. Drop them up
        # front — the same contract as the IVF/ANN index writers, which
        # refuse to index them.
        fresh = (
            batch.where(V.indexable(vec_col))
            .join(indexed, F.col(id_col) == indexed["_seen"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if fresh.isEmpty():
            return

        hits = (
            ann_topk_from_index(
                spark, index_path, fresh, id_col, vec_col, k=1,
                n_planes=meta["n_planes"], dim=meta["dim"],
                n_tables=meta["n_tables"], probe_radius=probe_radius,
            )
            .where(F.col("sim") >= threshold)
            .select(F.col("qid").alias(id_col))
            .distinct()
        )
        survivors = fresh.join(hits, id_col, "left_anti")

        if dedup_within_batch:
            pairs = embedding_near_dup(
                survivors, threshold=threshold, id_col=id_col,
                vec_col=vec_col, n_planes=meta["n_planes"],
                dim=meta["dim"], n_tables=meta["n_tables"],
                max_bucket_size=max_bucket_size,
            ).select("id_a", "id_b")
            losers = (
                dup_clusters(pairs)
                .where(F.col("id") != F.col("cluster_id"))
                .select(F.col("id").alias(id_col))
            )
            survivors = survivors.join(losers, id_col, "left_anti")

        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={epoch}"
        )
        append_to_ann_index(survivors, index_path, id_col, vec_col)

    writer = vectors.writeStream.foreachBatch(apply_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()

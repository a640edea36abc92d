"""Knowledge-graph construction — the north-rule extension of the
reference's parse→embed→search core.

Stages (all DataFrame-native; pandas UDFs only at the embedding boundary):

  1. extract_triples: deterministic pattern extraction over token streams —
     (subj, pred, obj) where pred ∈ RELATIONS and subj/obj ∈ ENTITIES in a
     consecutive token window. Pure JVM expressions (split + transform +
     filter), fully oracle-expressible in SQL, trivially parallel — no
     shuffle at all until the optional distinct.
  2. link_entities: mention surface forms → canonical entity ids by cosine
     top-1 against a BROADCAST entity-embedding matrix (the reference's
     brute-force cosine scan, search/mod.rs:77-120, generalized from 1
     query to M mentions). The catalog is small (≤10^6 entities × 256
     floats = 1 GB ceiling; ours far less) — broadcast, never shuffled.
     An LSH-bucketed variant (``use_lsh_above``) bounds the per-row work
     when the catalog outgrows broadcast.
  3. connected_components: canonicalize co-referring surface forms with the
     alternating large-star/small-star algorithm (Kiveris et al.,
     "Connected Components in MapReduce and Beyond", public) — O(log n)
     rounds of hash-join + aggregate, each round localCheckpoint()ed to
     cut lineage; AQE handles skewed hub nodes (hot entities).
  4. materialize_graph: triples + node/edge tables written as parquet
     (Iceberg stand-in), partitioned by hash of subject for co-located
     downstream joins.

Scale notes (100 TB target): stage 1 is map-only; stage 2 is map-only with
a broadcast build side; stage 3 shuffles only the *edge* relation (orders
of magnitude smaller than the corpus) and converges in ~log(diameter)
rounds; stage 4 writes partitioned by subj-hash so graph queries co-locate.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from semtools_spark import fs as hfs
from semtools_spark.embedding import DEFAULT_SEED, HashEmbedder

# Deterministic extraction vocabulary over the synthetic corpora's word
# soup: relations are the verb-like tokens, entities the noun-like ones.
RELATIONS = ("join", "merge", "filter", "scan", "sort", "agg", "dup")
ENTITIES = (
    "spark", "table", "row", "column", "customer", "line", "part", "order",
    "key", "window", "vector", "hash", "batch", "stream", "query", "data",
    "group", "value",
)


def _sql_list(items) -> str:
    # escape embedded quotes: callers may pass arbitrary vocabularies
    return ", ".join("'" + str(x).replace("'", "''") + "'" for x in items)


def extract_triples(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    relations: tuple[str, ...] = RELATIONS,
    entities: tuple[str, ...] = ENTITIES,
) -> DataFrame:
    """(doc, pos, subj, pred, obj) for every consecutive token window
    (e_i, r_{i+1}, e_{i+2}) with r ∈ relations and e ∈ entities.

    Whole plan is scan → project → explode → filter: map-only, no shuffle;
    Catalyst prunes the scan to (id, text).
    """
    w = "__words"
    rel_list, ent_list = _sql_list(relations), _sql_list(entities)
    # Membership checks are INLINE in the window filter (3 IN-checks per
    # window) rather than precomputed per-word boolean arrays: the two
    # array allocations per document cost more than the extra hash-set
    # probes (measured 6.8 s vs 4.7 s on the 1M-page corpus at 32 cores,
    # identical output). The (pos, subj, pred, obj) struct — the expensive
    # string-copying step — is built only for the ~1% of windows that
    # match, and pred is tested first (rarest).
    return (
        docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col).alias("doc"),
            F.split(F.col(text_col), r"\s+").alias(w),
        )
        .select(
            "doc",
            F.explode(
                F.expr(
                    f"CASE WHEN size({w}) < 3 THEN array() ELSE "
                    f"transform("
                    f"  filter(sequence(0, size({w}) - 3),"
                    f"         i -> {w}[i+1] IN ({rel_list})"
                    f"          AND {w}[i] IN ({ent_list})"
                    f"          AND {w}[i+2] IN ({ent_list})),"
                    f"  i -> struct(i AS pos, {w}[i] AS subj,"
                    f"              {w}[i+1] AS pred, {w}[i+2] AS obj)) END"
                )
            ).alias("t"),
        )
        .select("doc", "t.pos", "t.subj", "t.pred", "t.obj")
    )


def extract_triples_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    relations: tuple[str, ...] = RELATIONS,
    entities: tuple[str, ...] = ENTITIES,
) -> str:
    """DuckDB rendering of extract_triples (packed string + split_part, since
    DuckDB's unnest of struct-lists doesn't splat into columns)."""
    return f"""
WITH words AS (
  SELECT {id_col} AS doc, regexp_split_to_array({text_col}, '\\s+') AS w
  FROM {table} WHERE {text_col} IS NOT NULL AND length({text_col}) > 0
), cand AS (
  SELECT doc, unnest(
    CASE WHEN len(w) < 3 THEN []
    ELSE list_transform(range(1, len(w) - 1),
         i -> (i - 1)::VARCHAR || chr(9) || w[i] || chr(9) || w[i+1] || chr(9) || w[i+2])
    END) AS packed
  FROM words
)
SELECT doc,
       CAST(split_part(packed, chr(9), 1) AS INTEGER) AS pos,
       split_part(packed, chr(9), 2) AS subj,
       split_part(packed, chr(9), 3) AS pred,
       split_part(packed, chr(9), 4) AS obj
FROM cand
WHERE split_part(packed, chr(9), 3) IN ({_sql_list(relations)})
  AND split_part(packed, chr(9), 2) IN ({_sql_list(entities)})
  AND split_part(packed, chr(9), 4) IN ({_sql_list(entities)})
""".strip()


def build_entity_catalog(
    spark: SparkSession,
    names: list[str] | None = None,
    dim: int = 64,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Small canonical-entity table (entity_id, name, embedding) embedded
    with the same static model as mentions — the broadcast build side."""
    names = list(names or ENTITIES)
    emb = HashEmbedder(dim=dim, seed=seed)
    mat = emb.embed_texts(names)
    rows = [(i, n, [float(x) for x in mat[i]]) for i, n in enumerate(names)]
    schema = T.StructType(
        [
            T.StructField("entity_id", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


LINK_OUT_T = T.StructType(
    [
        T.StructField("entity_id", T.LongType()),
        T.StructField("link_distance", T.DoubleType()),
    ]
)


#: distinct-mention count at or below which :func:`link_entities` scores
#: on the driver (no Python workers) instead of through the broadcast UDF
DRIVER_LINK_BELOW = 8192


def _catalog_matrix(catalog: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect the catalog's (entity_id, embedding) rows to the driver as
    (int64 ids, L2-normalized float32 matrix); zero vectors stay zero."""
    pdf = catalog.select("entity_id", "embedding").toPandas()
    ids = np.asarray(pdf["entity_id"], dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float32) for v in pdf["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, (mat / norms[:, None]).astype(np.float32)


def _top1(q: np.ndarray, ids: np.ndarray, matn: np.ndarray):
    """Cosine top-1 of normalized mention embeddings ``q`` against the
    normalized catalog ``(ids, matn)``: one float32 matmul, argmax (first
    maximum wins a tie), float64 distance. Returns (entity_ids, distances).
    float32 BLAS results depend on how many rows one call scores: callers
    that batch differently agree to ~2e-7 in distance, not bit for bit."""
    sims = q @ matn.T  # (n, |catalog|)
    best = sims.argmax(axis=1)
    return ids[best], 1.0 - sims[np.arange(len(q)), best].astype(np.float64)


def _make_link_udf(bc, dim: int, seed: int):
    """Pandas UDF scoring mention batches against the BROADCAST catalog.

    The closure captures ONLY the lightweight Broadcast handle (plus dim/
    seed scalars): the (ids, matrix) payload ships once per executor via
    the torrent broadcast, not once per task in the pickled closure (a
    10^6-entity × 256-float catalog is ~1 GB — per-task closure capture
    would serialize it into every task binary). Reference ANN analog:
    workspace store.rs:481-546."""

    @F.pandas_udf(LINK_OUT_T)
    def _link(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        ids, matn = bc.value
        embedder = HashEmbedder(dim=dim, seed=seed)
        for s in batches:
            ent, dist = _top1(embedder.embed_texts(s.fillna("").tolist()), ids, matn)
            yield pd.DataFrame({"entity_id": ent, "link_distance": dist})

    # asNondeterministic (guide §4.4): a max_distance filter over the
    # returned struct's link_distance otherwise pushes below the
    # projection and the optimizer duplicates the UDF — the whole
    # catalog matmul per row, twice. The scorer is a pure function of
    # (mention, broadcast catalog); results are unchanged.
    return _link.asNondeterministic()


def _broadcast_link(distinct_m: DataFrame, bc, dim: int, seed: int, rescued: bool):
    """(mention, entity_id, link_distance, rescued) for every row of
    ``distinct_m``, scored by the broadcast-catalog UDF."""
    link = _make_link_udf(bc, dim, seed)
    return distinct_m.withColumn("__l", link(F.col("mention"))).select(
        "mention",
        F.col("__l.entity_id"),
        F.col("__l.link_distance"),
        F.lit(rescued).alias("rescued"),
    )


def link_entities(
    mentions: DataFrame,
    catalog: DataFrame,
    *,
    mention_col: str = "mention",
    dim: int = 64,
    seed: int = DEFAULT_SEED,
    max_distance: float | None = None,
    use_lsh_above: int | None = None,
    catalog_size: int | None = None,
) -> DataFrame:
    """Cosine top-1 link of each distinct mention surface form against the
    catalog — the M-query generalization of the reference's brute-force
    scan (search/mod.rs:77-120): one matmul + argmax per scored batch.

    Three physical strategies:

    * **driver**: at most ``DRIVER_LINK_BELOW`` distinct mentions are
      collected and scored in-process against the collected catalog —
      no Python workers in the plan.
    * **broadcast**: larger mention sets score in a pandas UDF against
      the L2-normalized catalog matrix, shipped to executors via
      ``SparkContext.broadcast`` — once per executor, never per task.
      Exact; right while the catalog fits executor memory (≲1 GB).
    * **LSH-bucketed** (``use_lsh_above=n``: engaged when the catalog
      exceeds n rows): mentions and catalog are embedded, signed into
      integer hyperplane buckets (similarity.int_hyperplane_signature),
      candidates joined WITHIN bucket with exact cosine re-rank — the
      shuffle key is the bucket, never all-pairs. Mentions whose bucket
      holds no catalog entry fall back to a broadcast scoring against a
      bounded catalog sample so every mention still links. Exact
      surface-form matches always collide (identical vector ⇒ identical
      signature).

    Returns (mention, entity_id, link_distance, rescued). ``rescued`` is
    False everywhere on the exact paths; on the LSH path it marks links
    produced by the bounded best-effort rescue tier — approximate by
    construction, so quality-sensitive callers threshold them
    (``max_distance`` applies to rescue rows like any other).
    Distinct mentions are linked once, then the (small) mapping can be
    broadcast-joined back to the full mention stream by the caller.

    ``catalog_size`` (optional) is a known-row-count hint that skips the
    strategy-picking ``count()`` job when ``use_lsh_above`` is set —
    callers that just built the catalog know its size.

    The Broadcast handles the result depends on are attached to the
    returned DataFrame as ``_semtools_broadcasts`` (empty on the driver
    path); callers that materialize the result (e.g. the pipeline stage
    write) should ``unpersist()`` those to release executor blocks in
    long-lived sessions (a later re-evaluation lazily re-broadcasts, so
    unpersist is always safe).
    """
    spark = mentions.sparkSession
    distinct_m = mentions.select(F.col(mention_col).alias("mention")).distinct()

    use_lsh = False
    if use_lsh_above is not None:
        n_cat = catalog_size if catalog_size is not None else catalog.count()
        use_lsh = n_cat > use_lsh_above
    broadcasts = []
    if use_lsh:
        linked, bc = _link_entities_lsh(
            distinct_m, catalog, dim=dim, seed=seed, catalog_size=n_cat
        )
        broadcasts = [bc]
    else:
        ids, matn = _catalog_matrix(catalog)
        # Adaptive driver link (the connected_components small-graph
        # philosophy applied here): when the DISTINCT surface-form set is
        # small — bounded extraction vocabularies, early corpus slices —
        # collect it and score it in-process. This removes the whole
        # Python-worker machinery from the plan (the first pandas-UDF job
        # of a session forks + imports numpy/pandas in every worker:
        # measured ~3 s of the flagship pipeline's link stage, guide §4).
        # Both paths run _top1 on the same embedder but are NOT
        # bit-identical: the driver scores every probed mention in one
        # call, the UDF per Arrow batch, so link_distance can differ by
        # ~2e-7 and a near-tie (top-1 margin ≲1e-6) can link to another
        # entity (pinned by test_link_paths_agree_property).
        # The bounded ``limit(n+1)`` probe decides without a full count;
        # web-scale mention sets exceed it and take the broadcast path.
        probe = (
            distinct_m.limit(DRIVER_LINK_BELOW + 1).collect()
            if DRIVER_LINK_BELOW > 0
            else None
        )
        if probe is not None and len(probe) <= DRIVER_LINK_BELOW:
            embedder = HashEmbedder(dim=dim, seed=seed)
            texts = [r.mention if r.mention is not None else "" for r in probe]
            ent, dist = _top1(embedder.embed_texts(texts), ids, matn)
            schema = T.StructType(
                [T.StructField("mention", T.StringType())]
                + LINK_OUT_T.fields
                + [T.StructField("rescued", T.BooleanType(), False)]
            )
            linked = spark.createDataFrame(
                [
                    (r.mention, int(e), float(d), False)
                    for r, e, d in zip(probe, ent, dist)
                ],
                schema,
            )
        else:
            bc = spark.sparkContext.broadcast((ids, matn))
            broadcasts = [bc]
            linked = _broadcast_link(distinct_m, bc, dim, seed, rescued=False)
    if max_distance is not None:
        linked = linked.filter(F.col("link_distance") < float(max_distance))
    linked._semtools_broadcasts = broadcasts
    return linked


def _int_sign(mat: np.ndarray, w: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """NumPy twin of similarity.int_hyperplane_signature: floor(1e6·x) on
    the float64-widened vectors (the same IEEE op as the JVM side), exact
    int64 dot with the ±1 plane weights ``w``, one sign bit per plane.
    Returns (dots (n, n_planes), bucket (n,))."""
    f = np.floor(np.asarray(mat, dtype=np.float64) * 1000000.0).astype(np.int64)
    dots = f @ w.T  # exact int64
    bits = 1 << np.arange(w.shape[0], dtype=np.int64)
    return dots, ((dots > 0) * bits).sum(axis=1)


def _embed_probe_udf(dim: int, seed: int, n_planes: int, n_probes: int):
    """Fused mention → (embedding, probe_buckets) pandas UDF: ONE Python
    boundary crossing instead of an embed UDF + a separate signature
    pass (guide §4.2 — batch the custom math into vectorized NumPy).
    ``probe_buckets`` is multi-probe LSH (Lv et al. VLDB'07): the exact
    integer signature first (equal to similarity.int_hyperplane_signature
    of the embedding), then the ``n_probes`` lowest-|dot| (least
    confident) bits flipped, ties to the lower plane index."""
    from semtools_spark.operators.similarity import int_plane_weights

    w = int_plane_weights(n_planes, dim, seed)
    out_t = T.StructType(
        [
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("probe_buckets", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(out_t)
    def _ep(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        embedder = HashEmbedder(dim=dim, seed=seed)
        for s in batches:
            if len(s) == 0:
                yield pd.DataFrame({"embedding": [], "probe_buckets": []})
                continue
            mat = embedder.embed_texts(s.fillna("").tolist())  # (n, dim) f32
            dots, base = _int_sign(mat, w)
            order = np.argsort(np.abs(dots), axis=1, kind="stable")[:, :n_probes]
            flips = base[:, None] ^ (np.int64(1) << order.astype(np.int64))
            buckets = np.concatenate([base[:, None], flips], axis=1)
            yield pd.DataFrame(
                {"embedding": list(mat), "probe_buckets": list(buckets)}
            )

    return _ep


def _int_signature_udf(dim: int, seed: int, n_planes: int):
    """Arrow-vectorized twin of similarity.int_hyperplane_signature for
    pre-embedded float32 arrays: one NumPy matmul per batch (the JVM fold
    runs interpreted per element per plane — at n_planes·|catalog| scale
    that was the second-largest cost of the LSH link). Raises on a dim
    mismatch like _dim_guard."""
    from semtools_spark.operators.similarity import int_plane_weights

    w = int_plane_weights(n_planes, dim, seed)

    @F.pandas_udf(T.LongType())
    def _sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            if len(s) == 0:
                yield pd.Series([], dtype="int64")
                continue
            try:
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in s])
            except ValueError as e:
                raise ValueError(
                    f"expected embedding vectors of length {dim}: {e}"
                ) from e
            if mat.shape[1] != dim:
                raise ValueError(
                    f"expected embedding vectors of length {dim}, "
                    f"got length {mat.shape[1]}"
                )
            yield pd.Series(_int_sign(mat, w)[1])

    return _sig


def _link_entities_lsh(
    distinct_m: DataFrame,
    catalog: DataFrame,
    *,
    dim: int,
    seed: int,
    n_planes: int | None = None,
    n_probes: int = 2,
    max_rescue_catalog: int = 10_000,
    catalog_size: int | None = None,
) -> tuple[DataFrame, object]:
    """LSH-bucketed linking for catalogs too big to broadcast. Returns
    (linked, Broadcast of the rescue tier's catalog sample).

    ``n_planes=None`` (default) scales the hyperplane count with the
    catalog: ``max(8, bit_length(|catalog| // 32))``, clamped to 20 —
    i.e. ~32 catalog rows per bucket. A FIXED plane count is a scale
    bug: 8 planes = 256 buckets puts ~600 rows/bucket at a 150k-entity
    catalog (measured 157 s for 124k mentions — ~2·10⁸ candidate pairs)
    and 4·10⁴ rows/bucket at 10⁷ entities, quadratically worse; sizing
    occupancy keeps the per-bucket candidate join flat as the catalog
    grows (Lv et al., VLDB'07 — multi-probe exists precisely so high
    plane counts don't cost recall).

    Three bounded tiers — NO crossJoin and NO single-reducer window
    anywhere (the r3 shape funneled |catalog| rows per missed mention
    through one shuffle partition of a mention×catalog cross join —
    exactly the hot-key blowup this path exists to avoid):

    1. **bucket join**: mention probe buckets (exact signature + the
       ``n_probes`` lowest-confidence bits flipped, multi-probe LSH)
       equi-join the catalog's exact buckets; exact cosine re-rank.
       Shuffle key = bucket; top-1 via ``min_by`` AGGREGATION so hot
       mentions partially aggregate map-side instead of sorting under a
       window.
    2. **multi-probe** (inside tier 1): a mention whose exact bucket is
       empty usually collides in a flipped-bit bucket — misses become
       rare instead of common under skewed embedding mass.
    3. **rescue**: the remaining misses score against a BOUNDED catalog
       subset — a SEEDED PSEUDO-RANDOM sample of ``max_rescue_catalog``
       entities (order by xxhash64(entity_id, seed), TakeOrdered — no
       full sort, deterministic per seed; r4 took "first N by id", a
       biased subset that systematically excluded high-id entities) via
       the same broadcast UDF as the exact broadcast path:
       map-only, memory bounded by the cap, best effort by construction
       (tiers 1-2 make reaching it rare). Every mention still links, and
       every rescue row is flagged ``rescued=true`` so callers can
       threshold or drop approximate links (pair with ``max_distance``
       to make a wrong-sample rescue filterable).
    """
    from semtools_spark.functions.vectors import cosine_distance_expr

    spark = distinct_m.sparkSession
    if n_planes is None:
        n_cat = catalog_size if catalog_size is not None else catalog.count()
        n_planes = min(20, max(8, (max(1, n_cat) // 32).bit_length()))
    # m_probe feeds both the candidate join and the missed-mention
    # computation: a lazy local checkpoint makes that ONE pass. The
    # embedding AND the multi-probe signature are computed in a SINGLE
    # fused pandas UDF (guide §4.2): the embedding is already Python-side,
    # so signing it there costs one NumPy matmul per batch instead of a
    # second boundary crossing plus the interpreted per-element JVM fold.
    # (Lineage-cutting the downstream cosine join is deliberately NOT
    # done: Dataset.localCheckpoint materialized the tiny top1 relation
    # ~100x slower than computing it — 62 s for 1.5k mentions — and
    # persist()'s columnar cache build over the array<float> candidate
    # relation was slower still, 280 s vs 110 s end-to-end at a 150k
    # catalog. Instead the plan below is shaped so the cosine join has
    # exactly ONE consumer.)
    # AQE coalesces the post-distinct shuffle by BYTE size, which is the
    # wrong proxy for a compute-dense stage: a few MB of distinct mention
    # strings collapse to 1-2 partitions and the embed UDF (and the
    # cosine join below) run nearly serially on an idle cluster
    # (measured: 2 tasks on 32 cores — 6.05 s for the embed pass, 12.2 s
    # for the candidate join). An explicit repartition with a pinned
    # partition count is exempt from AQE coalescing; the count is derived
    # from cluster parallelism (conf-driven — scales with the cluster,
    # not tuned to this box), and hash-partitioning the join inputs by
    # the bucket key makes the candidate join co-partitioned: zero
    # additional Exchange inside the join itself.
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    # KEYLESS round-robin, not repartition(n, "mention"): a same-key
    # repartition directly above the distinct is eliminated as redundant
    # (hash partitioning on mention already satisfies the clustering,
    # whatever its partition count), which silently re-exposes the stage
    # to AQE's byte-based coalescing — measured: the embed stage ran with
    # 1-2 tasks despite the "repartition(32)". Round-robin survives and
    # balances perfectly for a per-row UDF.
    m_probe = (
        distinct_m.repartition(n_parts)
        .withColumn(
            "__ep",
            _embed_probe_udf(dim, seed, n_planes, n_probes)(F.col("mention")),
        )
        .select(
            "mention",
            F.col("__ep.embedding").alias("embedding"),
            F.col("__ep.probe_buckets").alias("probe_buckets"),
        )
        .localCheckpoint(eager=False)
    )
    m_cand = m_probe.select(
        "mention", "embedding", F.explode("probe_buckets").alias("lsh_bucket")
    )
    # ONE signature pass over the catalog (Arrow-vectorized, bit-identical
    # to similarity.int_hyperplane_signature): c_sig feeds both the
    # candidate join and the bucket-set semi-join below — the lazy lineage
    # cut stops each consumer re-running the per-row signature scan.
    c_sig = catalog.select(
        "entity_id",
        "embedding",
        _int_signature_udf(dim, seed, n_planes)(F.col("embedding")).alias(
            "lsh_bucket"
        ),
    ).localCheckpoint(eager=False)
    best = F.min_by(
        F.struct("entity_id", "link_distance"),
        F.struct("link_distance", "entity_id"),
    ).alias("__b")
    # co-partition both join inputs on the bucket key with a pinned count
    # (see n_parts above): the per-pair cosine is the densest compute of
    # the whole link — AQE's byte-proxy coalescing must not serialize it,
    # and matching partitioning means the join itself adds no Exchange.
    # Results are partitioning-independent: min_by's (distance, entity)
    # order is total, so the per-mention winner is unique.
    top1 = (
        m_cand.repartition(n_parts, "lsh_bucket").alias("m")
        .join(
            c_sig.repartition(n_parts, "lsh_bucket").alias("c"),
            F.col("m.lsh_bucket") == F.col("c.lsh_bucket"),
        )
        .select(
            F.col("m.mention").alias("mention"),
            F.col("c.entity_id").alias("entity_id"),
            cosine_distance_expr("m.embedding", "c.embedding", dim=dim).alias(
                "link_distance"
            ),
        )
        .groupBy("mention")
        .agg(best)
        .select("mention", "__b.entity_id", "__b.link_distance")
    )
    # A mention reaches the rescue tier iff NONE of its probe buckets
    # holds any catalog row — a bucket-SET semi-join over (mention,
    # bucket) pairs, no embeddings and no cosine. Computing misses this
    # way (instead of anti-joining against top1) keeps the expensive
    # cosine join single-consumer, so it runs exactly once; the two
    # formulations are equivalent because a mention appears in top1 iff
    # some probe bucket produced a candidate pair.
    cat_buckets = c_sig.select("lsh_bucket").distinct()
    hit = (
        m_cand.select("mention", "lsh_bucket")
        .join(cat_buckets, "lsh_bucket", "left_semi")
        .select("mention")
        .distinct()
    )
    missed = m_probe.select("mention").join(hit, "mention", "left_anti")
    # seeded pseudo-random subset: unbiased across the id range and
    # deterministic per seed; limit over this sort is TakeOrdered
    sample = (
        catalog.select("entity_id", "embedding")
        .orderBy(F.xxhash64(F.col("entity_id"), F.lit(seed)), F.col("entity_id"))
        .limit(max_rescue_catalog)
    )
    bc = spark.sparkContext.broadcast(_catalog_matrix(sample))
    rescue = _broadcast_link(missed, bc, dim, seed, rescued=True)
    return top1.withColumn("rescued", F.lit(False)).unionByName(rescue), bc


def _latest_cc_round(spark: SparkSession, checkpoint_dir: str) -> int:
    """Highest round k with a complete (_SUCCESS-marked) parquet snapshot
    under ``checkpoint_dir``, or -1 if none."""
    latest = -1
    for name, _size, _isdir in hfs.listdir(spark, checkpoint_dir):
        if name.startswith("cc_round="):
            k = int(name.split("=", 1)[1])
            if hfs.exists(spark, f"{checkpoint_dir}/{name}/_SUCCESS") and k > latest:
                latest = k
    return latest


#: input-fingerprint file inside a CC checkpoint dir — resume is only valid
#: when the CURRENT call's edge input matches the snapshots' input
CC_INPUT_SIG = "_input_sig.json"


def _clear_cc_checkpoints(spark: SparkSession, checkpoint_dir: str) -> None:
    for name, _size, _isdir in hfs.listdir(spark, checkpoint_dir):
        if name.startswith("cc_round=") or name == CC_INPUT_SIG:
            hfs.delete(spark, f"{checkpoint_dir}/{name}")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
    small_graph_threshold: int = 200_000,
    checkpoint_dir: str | None = None,
    keep_rounds: int = 2,
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    Adaptive execution (the AQE philosophy applied to the iterative loop):
    if the edge relation is small enough to count cheaply and fits the
    driver (< ``small_graph_threshold`` rows), run a single-pass
    union-find on the driver — an O(E α(E)) scan beats ~log(n) rounds of
    distributed joins whose per-round scheduling cost dwarfs the work.
    Pass ``small_graph_threshold=0`` to force the distributed path (tests
    do, and any caller whose edge set is known to be huge).

    Alternating large-star / small-star (Kiveris et al., MapReduce CC):
    converges in O(log n) rounds even on long chains (label propagation
    would need O(diameter)). Each round is groupBy(min) + join, with one
    lineage cut per round:

    * ``checkpoint_dir=None`` (local default): ``localCheckpoint`` — fast,
      but executor loss destroys the blocks and kills the job.
    * ``checkpoint_dir=<shared fs path>`` (the cluster mode the north rule
      requires): each round's edge relation is written as a
      ``cc_round=<k>`` parquet snapshot and read back — durable,
      executor-loss-safe, and a re-invocation with the same dir RESUMES
      from the latest complete round instead of recomputing (kill
      mid-loop → rerun → continues). Only the last ``keep_rounds``
      snapshots are retained. Resume is keyed on an INPUT fingerprint
      (edge-multiset count+checksum persisted as ``_input_sig.json``):
      snapshots also survive completed runs, so re-running with changed
      edges and the same dir clears the stale snapshots and recomputes
      instead of silently returning the old graph's components.

    Skew (the north rule's "salted keys for hot entities", realized with
    Spark's native mechanisms instead of manual salt columns): a hub
    entity concentrates one key in two places —

    * the neighbor-min AGGREGATION: Spark's hash aggregate partially
      aggregates per input partition before the shuffle, which IS salted
      pre-aggregation (partition id = implicit salt); a 10^6-degree hub
      contributes one pre-aggregated row per map partition, never 10^6
      rows into one reducer.
    * the m(c) JOIN back to the edges: AQE skew-join (on in session.py)
      splits oversized join partitions at runtime — the adaptive version
      of salting the build side, without the recall/bookkeeping cost of
      explicit salt replication.

    Both are exercised by the 5,000-spoke hub test (test_kg.py).
    """
    spark = edges.sparkSession

    def _cut(df: DataFrame, round_no: int) -> DataFrame:
        if checkpoint_dir is None:
            # lazy checkpoint: the next action (count/sig probe) is the
            # job that materializes it — one job per round. Freed by the
            # ContextCleaner once unreferenced (Dataset.unpersist would
            # not release RDD-level checkpoint blocks anyway).
            return df.localCheckpoint(eager=False)
        path = f"{checkpoint_dir}/cc_round={round_no:05d}"
        df.write.mode("overwrite").parquet(path)
        stale = round_no - keep_rounds
        if stale >= 0:
            hfs.delete(spark, f"{checkpoint_dir}/cc_round={stale:05d}")
        return spark.read.parquet(path)

    def _id_col(c: str):
        # Fail LOUDLY when an id doesn't cast to BIGINT: silently-nulled
        # string ids (e.g. file-path doc keys) would make the u != v
        # filter drop every edge and return an empty result. Callers with
        # non-numeric keys must map to dense numeric ids first.
        casted = F.col(c).try_cast("long")
        return F.when(
            F.col(c).isNotNull() & casted.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"connected_components: id column '{c}' value '"
                    ),
                    F.col(c).cast("string"),
                    F.lit(
                        "' does not cast to BIGINT; map non-numeric ids "
                        "to dense numeric ids first"
                    ),
                )
            ),
        ).otherwise(casted)

    def _oriented() -> DataFrame:
        # ORIENTED edge list: every undirected edge stored once as
        # (u, v) with u > v. Half the rows of the symmetric form — every
        # per-round shuffle (min-aggregate, join, distinct) moves half
        # the volume, and no round re-symmetrizes. For a center c,
        # out-edges (c → v) hold exactly its smaller neighbors and
        # in-edges (w → c) exactly its larger ones, which is precisely
        # the split large-star/small-star need.
        return (
            edges.select(_id_col(src).alias("a"), _id_col(dst).alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"),
                F.least("a", "b").alias("v"),
            )
            .distinct()
        )

    def _sig(df: DataFrame):
        # convergence probe AND input fingerprint: (count, xor-of-hashes)
        # over the edge set. bit_xor(xxhash64) rather than an arithmetic
        # checksum: SUM over 10^12 rows overflows BIGINT (an error under
        # ANSI mode, silent wraparound otherwise), while XOR is total at
        # any scale and order-insensitive; the relation is distinct each
        # round, so XOR is a sound set fingerprint.
        return df.agg(
            F.count("*").alias("c"),
            F.bit_xor(F.xxhash64("u", "v")).alias("s"),
        ).first()

    start_round = 0
    resumed = None
    sig0 = None
    if checkpoint_dir is not None:
        latest = _latest_cc_round(spark, checkpoint_dir)
        if latest >= 0:
            # Snapshots survive completed runs (keep_rounds retains the
            # converged rounds), so resume must be keyed on the INPUT, not
            # just the dir: resuming another graph's snapshots silently
            # returns the old graph's components. Fingerprint the current
            # oriented edge relation (one job — resume-candidate runs
            # only) and only resume on a match; otherwise clear the dir.
            stored = hfs.read_text(spark, f"{checkpoint_dir}/{CC_INPUT_SIG}")
            cur = _sig(_oriented())
            cur_sig = {"c": int(cur.c), "s": int(cur.s) if cur.s is not None else None}
            if stored is not None and json.loads(stored) == cur_sig:
                resumed = spark.read.parquet(f"{checkpoint_dir}/cc_round={latest:05d}")
                start_round = latest + 1
            else:
                _clear_cc_checkpoints(spark, checkpoint_dir)

    if resumed is not None:
        e = resumed
    else:
        e = _cut(_oriented(), 0)
        start_round = 1
        if checkpoint_dir is not None:
            s0 = _sig(e)
            sig0 = s0
            hfs.write_text(
                spark,
                f"{checkpoint_dir}/{CC_INPUT_SIG}",
                json.dumps(
                    {"c": int(s0.c), "s": int(s0.s) if s0.s is not None else None}
                ),
            )

    if small_graph_threshold > 0 and resumed is None:
        n_edges = e.count()
        if n_edges <= small_graph_threshold:
            return _driver_union_find(e)

    def _min_out(df: DataFrame) -> DataFrame:
        # m(c) = min(Γ(c) ∪ {c}) — with oriented edges every in-neighbor
        # is > c, so min over out-neighbors ∪ {c} suffices. Map-side
        # partial aggregate; hubs cost map work, not a hot reduce.
        return df.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        ).select(F.col("u").alias("c"), "m")

    def _one_round(df: DataFrame) -> DataFrame:
        # Large-star: every neighbor w > c connects to m(c). In the
        # oriented form those w are exactly c's in-edges (w → c); a
        # center with no out-edges has m(c) = c (left join + coalesce
        # keeps its in-edges intact). Output stays oriented: w > c ≥ m.
        m = _min_out(df)
        large = (
            df.join(m, df["v"] == m["c"], "left")
            .select(df["u"].alias("u"), F.coalesce(m["m"], df["v"]).alias("v"))
        )
        # NOT deduped: duplicates ((w, m) reached via several centers
        # sharing one min) are bounded within the round — min-aggregation
        # and the join are duplicate-insensitive and the round's final
        # distinct cleans up, so skipping this dedup removes one full
        # shuffle per round (measured ~25% faster on the gate graph)
        e2 = large.union(
            m.filter(F.col("c") != F.col("m")).select(
                F.col("c").alias("u"), F.col("m").alias("v")
            )
        )

        # Small-star: every neighbor v ≤ c (the out-edges) connects to
        # m(c); v > m unless v = m (self-loop, dropped). Oriented: v > m.
        m2 = _min_out(e2)
        small = (
            e2.join(m2, e2["u"] == m2["c"])
            .select(e2["v"].alias("u"), m2["m"].alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        return small.union(
            m2.filter(F.col("c") != F.col("m")).select(
                F.col("c").alias("u"), F.col("m").alias("v")
            )
        ).distinct()

    # Local mode probes every 2 rounds but still CUTS lineage every round
    # (lazy checkpoints are free until an action, so one probe job
    # materializes both rounds' checkpoints back-to-back): half the job
    # submissions and half the convergence aggregations, with per-round
    # plan depth unchanged. (The r7 experiment that batched 2 rounds with
    # a single cut per probe WAS slower — the doubled-depth plan paid
    # more in codegen + AQE replanning; cutting every round avoids that.)
    # Durable mode keeps one probe per round — each round is a resume
    # point and must be written + fingerprinted individually.
    rounds_per_probe = 1 if checkpoint_dir is not None else 2
    prev_sig = sig0 if sig0 is not None else _sig(e)
    iters_left = max_iterations
    round_no = start_round
    while iters_left > 0:
        k = min(rounds_per_probe, iters_left)
        for _ in range(k):
            # lineage cut at each round (local: lazy checkpoint so the
            # next probe is the materializing job; durable: parquet
            # write + read-back, the resume point)
            e = _cut(_one_round(e), round_no)
            round_no += 1
        iters_left -= k
        new_sig = _sig(e)
        if (prev_sig.c, prev_sig.s) == (new_sig.c, new_sig.s):
            if k == 1:
                break
            rounds_per_probe = 1  # confirm convergence one round at a time
        prev_sig = new_sig

    # At the fixpoint the graph is a union of stars (u → component min):
    # every non-root has out-edges; roots appear only as targets.
    m_final = e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("component"))
    comp = m_final.select(F.col("u").alias("node"), "component")
    roots = comp.select(F.col("component").alias("node"), F.col("component")).distinct()
    return comp.union(roots).distinct()


def _driver_union_find(e: DataFrame) -> DataFrame:
    """Small-graph CC: collect edges, path-compressed union-find, return
    (node, component) as a DataFrame. Same output contract as the
    distributed path (component = min node id)."""
    spark = e.sparkSession
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # collect(), not toLocalIterator(): the caller only takes this path
    # when the edge count is known to be under small_graph_threshold, so
    # the rows fit the driver by contract — and toLocalIterator runs one
    # job PER PARTITION sequentially where collect is a single job.
    for row in e.collect():
        ra, rb = find(row.u), find(row.v)
        if ra != rb:
            # union by min so the root IS the component id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [
            T.StructField("node", T.LongType(), False),
            T.StructField("component", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def canonicalize_mentions(
    linked: DataFrame,
    mention_offset: int = 1 << 62,
    cc_checkpoint_dir: str | None = None,
) -> DataFrame:
    """Surface-form canonicalization: union mention→entity links into a
    bipartite graph (mentions offset into a disjoint id space), run CC,
    and return (mention, canonical_id). Two surface forms linked to the
    same entity — or transitively via shared entities — canonicalize
    together.

    Mention node ids occupy ``[mention_offset, 2*mention_offset)`` —
    the FULL upper half of the non-negative 63-bit long range by default
    (reserved high bit, entities confined below). The r3 scheme pmod'd
    into a 10^9 space, where distinct surface forms birthday-collide at
    ~3*10^4 forms and a collision silently FUSES two unrelated canonical
    clusters; at 2^62 the same expectation needs ~3*10^9 distinct forms.
    Entity ids must stay below ``mention_offset`` — enforced per row by
    a codegen assert (catalog ids are small ints, so the check is free;
    a violation is a wrong-answer hazard, not a recoverable state).

    Output never contains a mention node id: every linked mention has an
    entity edge, entity ids are strictly smaller than mention nodes, and
    CC's component id is the min node id — so ``canonical_id`` is always
    an entity id and is deterministic regardless of the mention-node
    hashing scheme."""
    # pmod, not abs(hash) % n: abs(Long.MIN_VALUE) overflows BIGINT (an
    # error under ANSI), and xxhash64 WILL hit it once in ~2^64 rows —
    # certain at 10^12-document scale
    entity_in_range = F.assert_true(
        F.col("entity_id") < F.lit(mention_offset),
        F.lit(
            f"entity_id >= mention_offset ({mention_offset}): entity and "
            "mention node id spaces would overlap and CC would fuse them"
        ),
    )
    m_ids = linked.select(
        "mention",
        (F.pmod(F.xxhash64("mention"), F.lit(mention_offset)) + F.lit(mention_offset)).alias(
            "mention_node"
        ),
        # assert_true is NULL whenever the guard passes, so the coalesce
        # is the identity — but it ties the assert into a live column so
        # column pruning can't drop the check
        F.coalesce(entity_in_range.cast("long"), F.col("entity_id")).alias("entity_id"),
    )
    edges = m_ids.select(
        F.col("mention_node").alias("src"), F.col("entity_id").alias("dst")
    )
    comp = connected_components(edges, checkpoint_dir=cc_checkpoint_dir)
    return (
        m_ids.join(comp, m_ids.mention_node == comp.node, "left")
        .select(
            "mention",
            "entity_id",
            F.coalesce("component", "entity_id").alias("canonical_id"),
        )
    )


def triple_mentions(triples: DataFrame) -> DataFrame:
    """Every subject and object surface form of ``triples`` as one
    ``mention`` column (UNION ALL; link_entities takes the distinct)."""
    return triples.select(F.col("subj").alias("mention")).union(
        triples.select(F.col("obj").alias("mention"))
    )


def canonical_graph(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Canonical triples with provenance counts: ``triples`` joined to
    ``canon`` (:func:`canonicalize_mentions` output) on subject and on
    object, then grouped. Returns (subj, pred, obj, subj_id, obj_id,
    n_mentions).

    No static broadcast hint: canon has one row per distinct surface
    form — bounded today, unbounded under a generalized extractor — so
    AQE picks broadcast when that side is actually small and falls back
    to a shuffle join when it isn't."""
    c_subj = canon.select(
        F.col("mention").alias("subj"), F.col("canonical_id").alias("subj_id")
    )
    c_obj = canon.select(
        F.col("mention").alias("obj"), F.col("canonical_id").alias("obj_id")
    )
    return (
        triples.join(c_subj, "subj", "left")
        .join(c_obj, "obj", "left")
        .groupBy("subj", "pred", "obj", "subj_id", "obj_id")
        .agg(F.count("*").alias("n_mentions"))
    )


def materialize_graph(
    triples: DataFrame, out_dir: str, num_buckets: int = 32
) -> dict[str, str]:
    """Write triples + node/edge tables, partitioned by subject hash so
    downstream graph joins co-locate (the bucketing stand-in without a
    catalog). Returns the written paths."""
    paths = {
        "triples": f"{out_dir}/triples.parquet",
        "nodes": f"{out_dir}/nodes.parquet",
        "edges": f"{out_dir}/edges.parquet",
    }
    t = triples.withColumn(
        "bucket", F.pmod(F.xxhash64("subj"), F.lit(num_buckets)).cast("int")
    )
    t.repartition(num_buckets, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(paths["triples"])
    nodes = (
        triples.select(F.col("subj").alias("name"))
        .union(triples.select(F.col("obj").alias("name")))
        .distinct()
        # pmod: abs(Long.MIN_VALUE) is an ANSI overflow (see above)
        .withColumn("node_id", F.pmod(F.xxhash64("name"), F.lit(1 << 62)))
    )
    nodes.write.mode("overwrite").parquet(paths["nodes"])
    edges = (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("weight"))
    )
    edges.write.mode("overwrite").parquet(paths["edges"])
    return paths


def materialize_graph_bucketed(
    triples: DataFrame,
    table: str = "kg_triples_bucketed",
    num_buckets: int = 32,
) -> str:
    """Catalog-backed bucketed materialization: ``bucketBy(subj)`` +
    ``sortBy(subj)`` ``saveAsTable`` so every downstream subj-equi-join or
    subj-aggregation over the graph is CO-LOCATED — Spark reads the
    bucket spec from the catalog and plans the join with zero Exchange on
    the bucketed side (the hash-partition-by-subj-hash directory layout
    in :func:`materialize_graph` is the catalog-less stand-in; this is
    the real thing wherever a metastore/warehouse exists, incl. plain
    local ``spark-warehouse``). Returns the table name."""
    (
        triples.write.mode("overwrite")
        .bucketBy(num_buckets, "subj")
        .sortBy("subj")
        .format("parquet")
        .saveAsTable(table)
    )
    return table


def kg_pipeline(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """End-to-end: extract → link (subjects+objects as mentions) → CC
    canonicalize → canonical triples with provenance counts.

    Returns (subj, pred, obj, subj_id, obj_id, n_mentions) — the flagship
    query of this engine.
    """
    spark = docs.sparkSession
    triples = extract_triples(docs, id_col=id_col, text_col=text_col)
    catalog = build_entity_catalog(spark, dim=dim, seed=seed)
    linked = link_entities(triple_mentions(triples), catalog, dim=dim, seed=seed)
    canon = canonicalize_mentions(linked)
    return canonical_graph(triples, canon).orderBy("subj", "pred", "obj")

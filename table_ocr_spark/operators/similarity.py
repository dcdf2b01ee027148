"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force cosine top-k against a query vector:
  the exact baseline.  Pure JVM expressions (``zip_with`` dot product +
  ``aggregate`` fold) — one pruned column scan, one top-k sort; no Python.
* ``lsh_bucket_col`` / ``cosine_topk_lsh`` — the scale path: random-
  hyperplane LSH (sign-bit sketch).  Hyperplane components are derived
  deterministically from md5(plane, dim) so every engine/run agrees; at
  query time only rows sharing ≥1 plane-bucket with the query are exactly
  re-ranked.  At 10^12 rows the bucket filter prunes the scan by ~2^-P per
  matching band; the exact rerank touches a tiny candidate set.

Embedding-cosine near-dup detection: ``embedding_near_dup_pairs`` pairs
consecutive ids (the cheap deterministic candidate generator used by one
correctness oracle); ``embedding_near_dup_lsh`` is the open-world scale
path — banded sign-LSH candidates + exact cosine verify, itself exactly
oracled by inlining the md5-derived hyperplanes into SQL.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.operators.dedup import (
    _band_explode,
    _bucket_pairs,
    _cobucket,
    _index_bands,
    _pairs_against,
    hamming_col,
)


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column) -> Column:
    d = dot_col(a, b)
    na, nb = norm_col(a), norm_col(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


def _lit_vec(q: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q])


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec: str = "embedding",
    key: str = "vec_id",
    keep: Sequence[str] = (),
) -> DataFrame:
    """Brute-force top-k by cosine vs a literal query vector.

    Deterministic total order: (-cos, key) — ties break on key, so results
    are stable across partitionings (required for the equality oracle).
    ``keep``: extra columns carried through (e.g. the IVF list id).
    """
    qc = _lit_vec(query)
    scored = df.select(
        F.col(key),
        *[F.col(c) for c in keep],
        cosine_col(F.col(vec).cast("array<double>"), qc).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(key)).limit(k)


def hyperplane(dim: int, plane: int) -> List[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5(plane:dim).
    Engine-neutral: any runtime hashing the same strings gets the same
    plane (the correctness tests recompute it in pure Python)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).digest()[0]
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def lsh_bucket_col(vec: Column, dim: int, planes: int = 8, plane_offset: int = 0) -> Column:
    """Sign-bit bucket id: bit p = (v · hyperplane_{plane_offset+p}) > 0.
    ``plane_offset`` selects an independent plane family per band."""
    out = F.lit(0).cast("long")
    for p in range(planes):
        hp = _lit_vec(hyperplane(dim, plane_offset + p))
        out = out + F.when(dot_col(vec.cast("array<double>"), hp) > 0, F.lit(2 ** p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def cosine_topk_lsh(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec: str = "embedding",
    key: str = "vec_id",
    planes: int = 8,
    max_hamming: int = 1,
) -> DataFrame:
    """LSH-pruned top-k: filter to rows whose sign-bucket is within
    ``max_hamming`` bits of the query's bucket, then exact rerank.
    Recall < 1.0 by design — the scale path; the brute-force operator is
    the ground truth it is tested against."""
    dim = len(query)
    qbits = 0
    for p in range(planes):
        hp = hyperplane(dim, p)
        if sum(q * h for q, h in zip(query, hp)) > 0:
            qbits |= 1 << p
    bucketed = df.withColumn("_bkt", lsh_bucket_col(F.col(vec), dim, planes))
    cand = bucketed.filter(hamming_col(F.col("_bkt"), F.lit(qbits), planes) <= max_hamming)
    return cosine_topk(cand, query, k=k, vec=vec, key=key)


def deterministic_centroids(dim: int, n_lists: int) -> List[List[float]]:
    """Engine-neutral pseudo-random UNIT centroids from md5(list:dim).

    Same derivation idea as ``hyperplane`` — any runtime hashing the same
    strings gets the same codebook, so the IVF assignment/probe/rerank
    path is exactly oracle-checkable with the centroids inlined as SQL
    literals (no KMeans fit in the loop; the fitted path is ``ivf_index``,
    recall-tested against brute force).  Centroids are L2-normalized at
    construction: nearest-by-cosine then reduces to argmax of the plain
    dot product (the row norm is constant across centroids), so the
    per-row assignment needs no sqrt and no repeated norm subtree."""
    import hashlib
    import math

    cents = [
        [
            int.from_bytes(hashlib.md5(f"ivf{c}:{d}".encode()).digest()[:4], "big")
            / 2**31
            - 1.0
            for d in range(dim)
        ]
        for c in range(n_lists)
    ]
    out = []
    for c in cents:
        n = math.sqrt(sum(x * x for x in c))
        out.append([round(x / n, 6) for x in c])
    return out


def ivf_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Nearest-centroid assignment as pure JVM expressions.

    Adds ``_list`` = argmax over (unit) centroids of
    round(dot(v, c_i), ``round_dp``), ties to the LOWER list id — for a
    normalized codebook this IS nearest-by-cosine.  The argmax packs
    (score, -list) structs into one array and takes ``array_max`` —
    lexicographic struct comparison — instead of a CASE fold, which would
    copy every earlier dot-product subtree per branch (Catalyst does no
    CSE across CASE arms; the struct trick took lang_id 54 s → 1.2 s).
    Rounding before the argmax makes the decision engine-portable: both
    engines compare the same 6-dp values, so a 1-ulp dot-product
    difference can't flip the assignment.  One projection, no shuffle;
    the codebook ships as literals (n_lists × dim — the broadcastable
    FAISS-IVF-codebook analog)."""
    v = F.col(vec).cast("array<double>")
    scored = F.array(
        *[
            F.struct(
                F.round(dot_col(v, _lit_vec(c)), round_dp).alias("c"),
                F.lit(-i).alias("ni"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return df.withColumn("_list", (-F.array_max(scored)["ni"]).cast("int"))


def ivf_probes(
    centroids: Sequence[Sequence[float]],
    query: Sequence[float],
    n_probe: int,
    round_dp: int = 6,
) -> List[int]:
    """The ``n_probe`` list ids nearest the query — driver-side planning
    over the tiny codebook, same rounded-dot-product ranking as
    ``ivf_assign`` so the probe set is engine-portable too."""
    return sorted(
        range(len(centroids)),
        key=lambda i: (
            -round(sum(x * y for x, y in zip(centroids[i], query)), round_dp),
            i,
        ),
    )[:n_probe]


def ivf_index(
    df: DataFrame,
    dim: int,
    n_lists: int = 16,
    vec: str = "embedding",
    seed: int = 42,
):
    """IVF coarse quantizer: KMeans centroids (fixed seed) + inverted-list
    assignment column.

    Returns (assigned_df, centroids) where assigned_df = df + ``_list`` and
    centroids is the local list of centers (small: n_lists × dim — this is
    the broadcastable index, the analog of a FAISS IVF coarse codebook).
    At 10^12 rows the fit runs on a sample; assignment is one projection.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn("_feat", array_to_vector(F.col(vec).cast("array<double>")))
    km = KMeans(k=n_lists, seed=seed, featuresCol="_feat", predictionCol="_list")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_feat")
    centroids = [list(c) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """IVF search: exact rerank over the ``n_probe`` nearest inverted lists.

    Scan cost drops to ~n_probe/n_lists of the table (with partition/file
    pruning when the table is written partitioned by ``_list``); recall is
    tested against the brute-force operator, and with a literal codebook
    (``deterministic_centroids`` + ``ivf_assign``) the whole
    assign→probe→rerank path is exactly oracle-checked.
    """
    probes = ivf_probes(centroids, query, n_probe)
    cand = assigned.filter(F.col("_list").isin(probes))
    return cosine_topk(cand, query, k=k, vec=vec, key=key, keep=("_list",))


def ivf_index_rows(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec: str = "embedding",
    key: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Persistable IVF assignment INDEX rows: (key, _list) — the
    coarse-quantizer analog of ``embedding_lsh_index`` /
    ``dedup.lsh_banded``.  An incremental pipeline appends these rows
    per data increment (one int per vector, independent of ``dim``);
    later searches read the index instead of re-running the
    centroid-dot assignment over the whole history
    (``ivf_topk_indexed``).  The codebook itself (n_lists × dim floats)
    lives with the index as a tiny sidecar — with
    ``deterministic_centroids`` it is pure code; a KMeans-fitted
    codebook must be persisted once at fit time and NEVER refit per
    increment (refitting moves every historical assignment)."""
    return ivf_assign(df, centroids, vec, round_dp).select(key, "_list")


def ivf_topk_indexed(
    index: DataFrame,
    vecs: DataFrame,
    centroids: Sequence[Sequence[float]],
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """IVF search against a PERSISTED assignment index (``ivf_index_rows``
    output, accumulated across increments): probe lists are chosen
    driver-side over the tiny codebook, the index — narrow (key, _list)
    rows — filters to the probed lists, and vectors are fetched from the
    corpus table by key ONLY for probed-list members.  History is never
    re-assigned: the only centroid arithmetic in the plan is the
    driver-side probe ranking (plan-asserted in
    tests/test_ivf_and_ordering.py).  Search IO ≈ n_probe/n_lists of the
    index plus the member vectors."""
    probes = ivf_probes(centroids, query, n_probe)
    members = index.filter(F.col("_list").isin([int(p) for p in probes])).select(
        key, "_list"
    )
    cand = members.join(vecs.select(key, vec), key)
    return cosine_topk(cand, query, k=k, vec=vec, key=key, keep=("_list",))


def _sign_bands(
    df: DataFrame, dim: int, vec: str, key: str, planes_per_band: int, bands: int, *payload: str
) -> DataFrame:
    """(k, *payload, band, bucket) rows: band b's bucket is the
    ``planes_per_band``-bit sign bucket of its own hyperplane family; the
    vector is available to ``payload`` as ``v``."""
    base = df.select(F.col(key).alias("k"), F.col(vec).alias("v"))
    return _band_explode(
        base,
        [lsh_bucket_col(F.col("v"), dim, planes_per_band, b * planes_per_band) for b in range(bands)],
        *payload,
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.2,
    vec: str = "embedding",
    key: str = "vec_id",
    planes_per_band: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Open-world embedding near-dup pairs at scale: banded sign-LSH
    candidate generation + exact cosine verify.

    Each band is an independent ``planes_per_band``-bit sign bucket (its
    own hyperplane family); a pair becomes a candidate when ≥1 band
    matches exactly — the MinHash-banding shape on the random-hyperplane
    sketch, on the same banded-bucket core (operators/dedup.py).
    Expected candidates for unrelated vectors shrink by
    ~2^-planes_per_band per band, so the exact cosine runs on a tiny set
    instead of the O(n²) cross join.  Output: (key_a, key_b, cos_sim
    rounded to 4dp) with cos_sim ≥ threshold (compared on the ROUNDED
    value, so the decision is engine-portable)."""
    banded = _sign_bands(df, dim, vec, key, planes_per_band, bands, "v")
    cos = cosine_col(
        F.col("a.v").cast("array<double>"), F.col("b.v").cast("array<double>")
    )
    return _bucket_pairs(_cobucket(banded), F.round(cos, 4).alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def embedding_lsh_index(
    df: DataFrame,
    dim: int,
    vec: str = "embedding",
    key: str = "vec_id",
    planes_per_band: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Persistable sign-LSH INDEX of a corpus: (key, band, bucket) — the
    embedding-modality analog of ``dedup.lsh_banded``.  An incremental
    pipeline appends these rows per data increment (one long per band
    per vector, independent of ``dim``); later increments find near-dup
    candidates against the WHOLE history with one (band, bucket)
    equi-join instead of re-projecting every stored vector
    (``embedding_pairs_against``)."""
    return _sign_bands(df, dim, vec, key, planes_per_band, bands).select(
        F.col("k").alias(key), "band", "bucket"
    )


def embedding_pairs_against(
    new_df: DataFrame,
    index: DataFrame,
    old_vecs: DataFrame,
    dim: int,
    threshold: float = 0.2,
    vec: str = "embedding",
    key: str = "vec_id",
    planes_per_band: int = 8,
    bands: int = 2,
    max_candidates_per_bucket: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: NEW vectors vs an EXISTING
    sign-LSH index (``embedding_lsh_index`` rows), exact-cosine verified.

    Only the increment is projected onto the hyperplanes; history
    participates as its tiny index rows, and vectors are fetched from
    ``old_vecs`` (the history table, column-pruned to (key, vec)) ONLY
    for the candidate keys — the join order keeps the verify cost
    O(candidates), never O(history).  ``max_candidates_per_bucket``
    truncates each index bucket to its C lowest keys, bounding hot-bucket
    blowup exactly like the MinHash form.  Output: (key_new, key_old,
    cos_sim) with rounded cos_sim ≥ ``threshold``."""
    cand = _pairs_against(
        _sign_bands(new_df, dim, vec, key, planes_per_band, bands),
        _index_bands(index, key),
        max_candidates_per_bucket=max_candidates_per_bucket,
    )
    nv = new_df.select(F.col(key).alias("key_new"), F.col(vec).alias("_vn"))
    ov = old_vecs.select(F.col(key).alias("key_old"), F.col(vec).alias("_vo"))
    cos = cosine_col(F.col("_vn").cast("array<double>"), F.col("_vo").cast("array<double>"))
    return (
        cand.join(nv, "key_new")
        .join(ov, "key_old")
        .select("key_new", "key_old", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Near-duplicate pairs among consecutive ids (deterministic candidate
    set used by the oracle; swap in LSH buckets for open-world candidates)."""
    a = df.select(F.col(key).alias("key_a"), F.col(vec).alias("_va"))
    b = df.select((F.col(key) - 1).alias("key_a"), F.col(key).alias("key_b"), F.col(vec).alias("_vb"))
    joined = a.join(b, "key_a")
    return (
        joined.select(
            "key_a",
            "key_b",
            cosine_col(F.col("_va").cast("array<double>"), F.col("_vb").cast("array<double>")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )

"""spark-submit entry for the end-to-end training-data CURATION job: the
composition a corpus user actually runs over extracted transcripts.

    spark-submit --py-files engine.zip jobs/curate.py \
        --input /path/transcripts --output /path/curated \
        [--min-quality 0.3] [--langs en,de] [--strip-ratio 0.6]

One declarative DAG over the engine's operators — Catalyst sees the whole
plan, so filters fold into upstream projections and the only shuffles are
the ones each stage owns:

1. **extract**  (`with_extraction`, zero-shuffle Arrow projection) —
   per-turn main content.
2. **strip**    (`strip_conv_boilerplate`, linehash scale path) — lines
   repeated across a conversation's turns removed; only line hashes
   shuffle.
3. **score**    (textstats projections, JVM-only) — token counts,
   language ID, quality score, PII redaction, content fingerprint.
4. **filter**   — quality ≥ threshold, language allow-list, non-empty.
5. **conv near-dedup** (optional, ``--conv-near-dedup J``) — whole
   conversations re-assembled in turn order and near-deduped BEFORE
   turn dedup: a lightly-edited re-uploaded conversation drops as a
   unit instead of fragmenting into orphan edited turns.
6. **dedup**    — exact content dedup: keep the min (conv_id, turn_idx)
   holder of each fingerprint (one map-side-combined aggregate +
   semi-join back — never a full-row groupBy).
7. **near-dedup** (optional, `--near-dedup J`; operators/dedup.py) —
   fuzzy dedup after the exact pass: MinHash LSH candidates (hot buckets
   capped), exact word-Jaccard verify ≥ J on candidates only, connected
   components, keep one representative per family.  Never all-pairs.
8. **split**    (`dataset_split_col`) — deterministic train/val/test by
   content hash; written as `split=...` partitions so downstream readers
   partition-prune.
9. **quota/sample** (optional; operators/sampling.py) —
   `--max-turns-per-conv` caps any conversation's contribution (skew-safe
   two-phase top-N by quality) and `--sample-rate` takes a deterministic
   content-hash downsample (RNG-free, rerun-stable, salt-rotatable).

Every stage's row counts ride ONE ``observe`` pass (no second scan) and
land in a `_curation_summary.json` sidecar — the lineage/metrics analog
of the extract job's per-bucket manifest.

**Incremental mode** (`--input-snapshot --incremental`, requires
`--snapshot` output): the 100-TB operating pattern — the input is a
snapshot-log table fed by append commits (e.g. daily crawl drops), and
each curation run processes ONLY the files appended since the last run:
the consumed input seq is recorded in the output commit's manifest, the
next run resumes from it via ``read_changes`` (file-list set
difference — zero data reads for already-processed files), new rows are
exact-deduped against the EXISTING output by a fingerprint anti-join
(column-pruned scan: only the fingerprint column of the curated table is
read), and the result lands as one atomic append.  Per-increment stages
(conv-boilerplate frequencies, quotas, near-dedup families) see only the
increment — the standard incremental-pipeline contract; run a full
non-incremental pass when cross-increment fuzzy collapse is required.

Incremental mode assumes ONE writer per output root (the normal
orchestrator contract): two runs racing on the same unprocessed input
seq would each anti-join against the same committed state and both
append — the snapshot layer keeps each commit atomic, but the increment
itself would land twice.  Concurrency belongs at the scheduler, same as
every Iceberg-style ingest pipeline.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _ConcurrentIncrement(Exception):
    """A concurrent incremental run already committed this input seq —
    appending again would duplicate the increment."""


def build_curated(
    df,
    cfg,
    min_quality: float,
    langs: list[str] | None,
    strip_ratio: float,
    kept_observation=None,
    eval_df=None,
    decontam_n: int = 8,
    max_turns_per_conv: int | None = None,
    sample_rate: float | None = None,
    sample_salt: str = "",
    near_dup_threshold: float | None = None,
    near_dup_cap: int = 1000,
    near_dup_mode: str = "star",
    near_dup_rounds: int = 2,
    conv_near_dup_threshold: float | None = None,
    corpus_strip_min_df: int | None = None,
):
    """transcripts → curated per-turn records.

    Mostly a pure plan builder; the near-dedup stages are the exception —
    their connected-components loops run eager checkpoints, and each is
    preceded by one clean materializing pass (``conv.count()`` /
    ``with_k.count()``) that completes upstream Observations before AQE's
    empty-relation fold can null them (see the in-line notes).

    ``kept_observation``: optional ``pyspark.sql.Observation`` attached to
    the post-filter, PRE-dedup frame so the caller can report the dedup
    collapse rate from the same single write action."""
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.conv_scope import strip_conv_boilerplate
    from table_ocr_spark.operators.extract_job import with_extraction
    from table_ocr_spark.operators.textstats import (
        dataset_split_col,
        fingerprint_col,
        lang_id_col,
        quality_score_col,
        redact_pii_col,
        token_count_col,
    )
    from table_ocr_spark.session import persist

    ex = with_extraction(df.select("conv_id", "turn_idx", "text"), cfg)
    # the boilerplate strip's linehash plan reads its input TWICE (once to
    # count line hashes, once to apply the banned sets), and here that
    # input is the extraction UDF's output — without a persist the Arrow
    # extraction kernel runs twice (measured at sf0.1: 37 s → 17 s with
    # MEMORY_AND_DISK persist on the extracted frame).  At the 100 TB
    # design point the same logic holds per executor: caching the
    # extracted text (≈ input-sized, spills to local disk) is strictly
    # cheaper than a second pass through the Python extraction kernel.
    strip_in = persist(
        ex.select("conv_id", "turn_idx", F.col("clean_text").alias("text"))
    )
    stripped = strip_conv_boilerplate(strip_in, ratio=strip_ratio).withColumnRenamed(
        "text_stripped", "text"
    )
    if corpus_strip_min_df:
        # CORPUS-scope boilerplate after the conv scope: a banner in
        # every conversation but only once per conversation is invisible
        # to the conv strip (operators/conv_scope.strip_corpus_boilerplate).
        from table_ocr_spark.operators.conv_scope import strip_corpus_boilerplate

        # the corpus strip reads its input twice (line-hash pass + the
        # final text join) — persist or the conv-strip UDF chain above
        # executes twice
        stripped = persist(stripped)
        stripped = strip_corpus_boilerplate(
            stripped.select("conv_id", "turn_idx", "text"),
            min_df=corpus_strip_min_df,
        ).withColumnRenamed("text_stripped", "text").drop("n_banned_lines")

    # NB: stats/fingerprint are computed on the PRE-redaction text (one
    # select → each expression binds the input column once; a separate
    # redaction projection would be CollapseProject-merged and re-inline
    # the regex chain into every downstream reference).  Semantically
    # that is the standard order anyway: dedup identity and quality are
    # properties of the content, PII scrubbing is the last rewrite
    # before the write.
    scored = stripped.select(
        "conv_id",
        "turn_idx",
        redact_pii_col("text").alias("text"),
        token_count_col("text").alias("n_tokens"),
        lang_id_col("text").alias("lang"),
        F.round(quality_score_col("text"), 6).alias("quality"),
        fingerprint_col("text").alias("fingerprint"),
    )
    kept = scored.filter(
        (F.col("quality") >= min_quality) & (F.length(F.trim("text")) > 0)
    )
    if langs:
        kept = kept.filter(F.col("lang").isin(langs))
    if kept_observation is not None:
        kept = kept.observe(kept_observation, F.count(F.lit(1)).alias("rows_kept"))
    # the dedup semi-join below references `kept` from BOTH branches;
    # uncached, the whole strip+score UDF chain would execute twice
    # (measured at sf0.1: 76 s → ~30 s write action with this persist)
    kept = persist(kept)

    if conv_near_dup_threshold is not None:
        # CONVERSATION-level near-dedup, BEFORE turn-level dedup — order
        # is load-bearing: an edited re-upload's unedited turns are exact
        # dups of the original's, so running turn dedup first would gut
        # the re-upload into orphan edited-turn fragments instead of
        # dropping the conversation as a unit (the failure this stage
        # closes).  Whole convs re-assemble in turn order (one partial-
        # aggregated collect per conv), MinHash-LSH star candidates over
        # the conv texts (O(n) per bucket), exact word-Jaccard verify on
        # candidates only, connected components, keep the component-min
        # conversation; every turn of a dropped conv goes with it.
        from table_ocr_spark.operators.conv_scope import conv_text
        from table_ocr_spark.operators.dedup import (
            minhash_lsh_star_pairs,
            near_dup_components,
            verify_pairs_jaccard,
        )

        # referenced by the LSH banding and both verify text joins —
        # without a persist the whole collect-per-conv (and the
        # extraction chain under it) executes three times
        conv = persist(conv_text(kept.select("conv_id", "turn_idx", "text")))
        # materialize once before the CC loop's eager checkpoints: same
        # AQE empty-relation/Observation hazard documented at the
        # turn-level near-dedup's with_k.count() below
        conv.count()
        cand = minhash_lsh_star_pairs(
            conv, "text", "conv_id", max_bucket_size=near_dup_cap
        )
        pairs = verify_pairs_jaccard(
            cand, conv, text="text", key="conv_id",
            threshold=conv_near_dup_threshold,
        )
        comps = near_dup_components(pairs)
        drop = comps.filter(F.col("member") != F.col("component")).select(
            F.col("member").alias("conv_id")
        )
        kept = kept.join(drop, "conv_id", "left_anti")

    # exact dedup, representative = min (conv_id, turn_idx) per fingerprint:
    # aggregate ONLY (fingerprint, min-key) — map-side combined, narrow —
    # then semi-join the representatives back to the full rows.  (The
    # window row_number alternative is one pass but puts a whole hot
    # fingerprint group in one task; this form keeps full rows spread by
    # (fingerprint, conv, turn) — skew-safe — and the persist makes the
    # double reference one compute pass.)
    # NB: join by column NAMES, not kept.col == reps.col — reps derives
    # from kept, so attribute-object equality degenerates to a trivially
    # true self-comparison (Spark WARNs and drops the fingerprint key).
    reps = (
        kept.groupBy("fingerprint")
        .agg(F.min(F.struct("conv_id", "turn_idx")).alias("_rep"))
        .select(
            "fingerprint",
            F.col("_rep.conv_id").alias("conv_id"),
            F.col("_rep.turn_idx").alias("turn_idx"),
        )
    )
    deduped = kept.join(reps, ["fingerprint", "conv_id", "turn_idx"], "left_semi")
    if near_dup_threshold is not None:
        # fuzzy dedup (RefinedWeb/Dolma-style), AFTER exact dedup so the
        # LSH stage never hashes byte-identical copies: MinHash band
        # buckets → candidate pairs (hot buckets capped — boilerplate
        # can't go O(n²)) → exact word-Jaccard verify on candidates only
        # → connected components → keep the component-min representative.
        # Every join is keyed by the narrow composite turn key; the full
        # text shuffles only for the candidate-pair verify projections.
        from table_ocr_spark.operators.dedup import (
            dedup_near_representatives,
            minhash_lsh_pairs,
            minhash_lsh_star_pairs,
            verify_pairs_jaccard,
        )

        with_k = deduped.withColumn(
            "_k", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
        )
        # referenced by the LSH build, both verify text joins, and the
        # final anti-join — persist or the exact-dedup semi-join subtree
        # executes four times
        with_k = persist(with_k)
        # materialize ONCE before the CC loop's eager checkpoints: an
        # Observation attached upstream (rows_in / rows_kept) completes
        # on the FIRST action that contains its node, and when the LSH
        # candidate set is empty AQE's empty-relation fold can eliminate
        # the CollectMetrics node from a checkpoint action's plan — the
        # observation then completes with a null row and Observation.get
        # raises (reproduced with a corpus yielding zero candidates).
        # This clean full pass completes the observations with correct
        # values and warms the cache every downstream branch shares.
        with_k.count()
        # star is the SCALE default: templated corpora make hundreds of
        # 100-5000-member buckets whose all-pairs explosion stalls the
        # verify stage (measured: 33.5M pairs under cap 1000 at sf0.1 —
        # hours; star emits <1M).  `pairs` keeps the exact all-pairs form
        # for small corpora.
        if near_dup_mode == "star":
            # iterated star: round 1 anchors each bucket at its min key;
            # each further round re-buckets the SURVIVORS with a rotated
            # (salted-argmin) pivot, so member pairs that both missed an
            # earlier anchor get a new one to meet through.  Every round
            # is O(n) per bucket; measured at sf0.01, round 2 closes most
            # of the star-vs-all-pairs recall gap (BENCH/CURATE.md).
            surv = with_k
            rounds = max(1, near_dup_rounds)
            pend: list = []  # persisted survivor frames not yet droppable
            for r in range(rounds):
                cand = minhash_lsh_star_pairs(
                    surv,
                    "text",
                    "_k",
                    max_bucket_size=near_dup_cap,
                    pivot_salt=str(r) if r else "",
                )
                pairs = verify_pairs_jaccard(
                    cand, surv, text="text", key="_k", threshold=near_dup_threshold
                )
                # the CC inside runs EAGERLY (checkpointed edges) — once
                # it has materialized through this round's surv, the
                # frame persisted two rounds back is recompute-bounded
                # (checkpoint-cut drops + cached with_k) and can go;
                # holding every round's cache would pin O(rounds)
                # corpus-sized entries at the 100 TB design point
                surv = dedup_near_representatives(surv, pairs, key="_k")
                if len(pend) >= 2:
                    pend.pop(0).unpersist(False)
                if r + 1 < rounds:
                    # next round references the survivor frame from four
                    # branches (banding, both verify sides, anti-join)
                    surv = persist(surv)
                    pend.append(surv)
            deduped = surv.drop("_k")
        else:
            cand = minhash_lsh_pairs(with_k, "text", "_k", max_bucket_size=near_dup_cap)
            pairs = verify_pairs_jaccard(
                cand, with_k, text="text", key="_k", threshold=near_dup_threshold
            )
            deduped = dedup_near_representatives(with_k, pairs, key="_k").drop("_k")
    deduped = deduped.withColumn("split", dataset_split_col("fingerprint"))
    if eval_df is not None:
        # benchmark-leak guard: drop any curated row sharing an n-token
        # window with the eval set.  Eval n-gram hashes broadcast; the
        # curated side never shuffles for this (operators/decontam.py).
        # Contaminated keys derive from the CACHED `kept` frame (same
        # text column; dedup only removes rows, so a key that dedup
        # would drop anyway is harmless in the anti-join) — deriving
        # them from `deduped` would re-reference the semi-join subtree
        # from two branches of one action.
        from table_ocr_spark.operators.decontam import contaminated_keys

        with_key = kept.withColumn(
            "_k", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
        )
        bad = contaminated_keys(
            with_key, eval_df, text="text", key="_k", n=decontam_n
        ).withColumnRenamed("k", "_k")
        deduped = (
            deduped.withColumn(
                "_k", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
            )
            .join(bad, "_k", "left_anti")
            .drop("_k")
        )
    if max_turns_per_conv:
        # per-conversation quota: a 100k-turn agent loop shouldn't dominate
        # the corpus — keep the N highest-quality turns per conv via the
        # skew-safe two-phase cap (operators/sampling.py): the hot conv
        # spreads over 32 salt buckets before the exact per-conv window
        from table_ocr_spark.operators.sampling import cap_per_key

        deduped = cap_per_key(
            deduped.withColumn(
                "_cap_id",
                F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")),
            ),
            "conv_id",
            [F.col("quality").desc()],
            id_col="_cap_id",
            n=max_turns_per_conv,
        ).drop("_cap_id")
    if sample_rate is not None and sample_rate < 1.0:
        # deterministic downsample keyed on the CONTENT fingerprint:
        # RNG-free (same set every rerun), repartition-stable, monotone in
        # rate, and duplicate-safe — any fingerprint collisions surviving
        # upstream co-sample by construction.  Pure JVM filter, no shuffle.
        from table_ocr_spark.operators.sampling import hash_sample

        deduped = hash_sample(deduped, "fingerprint", sample_rate, sample_salt)
    return deduped


def _sync_banded_index(
    spark, out_table, index_table, band_fn, key_fn, catchup_full_reband=False
):
    """Bring an LSH-index sidecar table up to the curated data table's
    current seq: band ONLY the data increments the index does not cover
    yet (``read_changes`` — zero reads of already-indexed files) and
    append them with the covered data seq in the commit summary.

    ``band_fn(rows) -> (key, band, bucket)`` defines the indexed
    granularity (per-turn text or per-conversation text); ``key_fn(rows)
    -> rows + key column`` names the unit for the compact-catch-up
    anti-join.  Idempotent and crash-healing: a run that died between
    its data append and its index append leaves the index behind by one
    seq, and the next run's sync closes the gap before using the
    index — the index can lag (briefly missing candidates) but never
    lies.  Indexes are stamped with the hash-algorithm tag; a mismatch
    (or legacy untagged index) forces a full rebuild instead of
    silently never colliding with fresh buckets."""
    from table_ocr_spark.operators.dedup import LSH_ALGO

    cur = out_table.current_seq()
    if cur is None:
        return
    covered = 0
    algo_ok = True
    for h in index_table.iter_history_newest_first():
        if "data_seq" in h["summary"]:
            covered = int(h["summary"]["data_seq"])
            algo_ok = h["summary"].get("lsh_algo") == LSH_ALGO
            break
    if algo_ok and covered >= cur:
        return
    stamp = lambda: {"data_seq": cur, "lsh_algo": LSH_ALGO}  # noqa: E731

    if not algo_ok:
        index_table.overwrite(band_fn(out_table.read(spark)), summary=stamp())
        return

    try:
        rows = out_table.read_changes(spark, after_seq=covered, until_seq=cur)
    except ValueError:
        try:
            ops = {
                out_table.manifest(s)["operation"]
                for s in range(covered + 1, cur + 1)
            }
        except ValueError:
            # a manifest in the range has been EXPIRED (physical history
            # GC, e.g. after jobs/forget.py --expire-keep) — nothing can
            # be inferred about the gap, so take the safe full rebuild
            ops = {"unknown"}
        if index_table.current_seq() is None:
            # first-time index bootstrap against a table whose history
            # already contains non-append commits: band the live set
            index_table.append(band_fn(out_table.read(spark)), summary=stamp())
            return
        if ops <= {"append", "compact"}:
            if catchup_full_reband:
                if "append" not in ops:
                    # compact-only range: layout changed, rows did not —
                    # no conv can have gained turns, so skip the
                    # O(corpus) re-band + index anti-join and take the
                    # same metadata-only seq catch-up as the turn path
                    index_table.append(
                        band_fn(out_table.read(spark).limit(0)),
                        summary=stamp(),
                    )
                    return
                # conversation granularity: a conv already in the index
                # may have gained NEW turns inside the uncovered range —
                # a bare-key anti-join would skip it and leave its bands
                # permanently computed from the older, shorter text
                # (ADVICE r6 #3).  Re-band the whole live set and append
                # only band rows the index does not hold yet (full-row
                # anti-join): unchanged convs collapse to zero new rows,
                # grown convs gain a fresh generation, prior generations
                # are preserved (extra rows only ADD candidates).
                fresh = band_fn(out_table.read(spark))
                existing = index_table.read(spark).select(*fresh.columns)
                index_table.append(
                    fresh.join(existing, list(fresh.columns), "left_anti"),
                    summary=stamp(),
                )
                return
            # turn granularity: a turn's text is immutable, so the cheap
            # key-level anti-join is exact.  Compaction rewrites file
            # LAYOUT but preserves every row, so file-diff change
            # tracking is void while row coverage is not: band only the
            # live rows whose key the index lacks (for a compact-only
            # range that is zero rows — a metadata-only seq catch-up)
            live, key_col = key_fn(out_table.read(spark))
            unindexed = live.join(
                index_table.read(spark).select(key_col).distinct(),
                key_col,
                "left_anti",
            )
            index_table.append(band_fn(unindexed), summary=stamp())
            return
        # a row-REMOVING commit (forget-merge, rollback) sits between the
        # covered seq and HEAD — rebuild the index from the live table:
        # one banding pass over the surviving corpus (no text
        # re-extraction), committed as an overwrite so forgotten rows'
        # derived bands drop out of the live index too
        index_table.overwrite(band_fn(out_table.read(spark)), summary=stamp())
        return
    index_table.append(band_fn(rows), summary=stamp())


def _sync_lsh_index(spark, out_table, index_table, k=8, bands=4, shingle_n=2):
    """Turn-granularity LSH index sync: one (key=_conv#turn_, band,
    bucket) row per turn per band (see ``_sync_banded_index``)."""
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.dedup import lsh_banded

    def _key(rows):
        return (
            rows.withColumn(
                "_k",
                F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")),
            ),
            "_k",
        )

    def _band(rows):
        with_k = rows.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("_k"),
            "text",
        )
        return lsh_banded(
            with_k, text="text", key="_k", k=k, bands=bands, shingle_n=shingle_n
        )

    _sync_banded_index(spark, out_table, index_table, _band, _key)


def _sync_conv_lsh_index(spark, out_table, index_table, k=8, bands=4, shingle_n=2):
    """CONVERSATION-granularity LSH index sync: whole convs re-assembled
    in turn order (``conv_text``) and banded — one (conv_id, band,
    bucket) row per conv per band, a few bytes regardless of
    conversation length.  A conversation whose turns span increments
    gets one banding generation per increment (each reflecting that
    increment's turns) — conservative: extra index rows can only ADD
    candidates, and the exact Jaccard verify decides."""
    from table_ocr_spark.operators.conv_scope import conv_text
    from table_ocr_spark.operators.dedup import lsh_banded

    def _key(rows):
        return rows, "conv_id"

    def _band(rows):
        conv = conv_text(rows.select("conv_id", "turn_idx", "text"))
        return lsh_banded(
            conv, text="text", key="conv_id", k=k, bands=bands, shingle_n=shingle_n
        )

    _sync_banded_index(
        spark, out_table, index_table, _band, _key, catchup_full_reband=True
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="training-data curation job")
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="curated output root")
    ap.add_argument("--config", default="default", help="builtin name | JSON file")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--langs", default="", help="comma allow-list, e.g. en,de ('' = all)")
    ap.add_argument("--strip-ratio", type=float, default=0.6)
    ap.add_argument(
        "--decontam-input",
        default="",
        help="parquet dir of eval docs (column `text`); curated rows sharing "
        "an n-token window with any eval doc are dropped",
    )
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument(
        "--max-turns-per-conv",
        type=int,
        default=0,
        help="keep at most N highest-quality turns per conversation "
        "(0 = no cap; skew-safe two-phase top-N)",
    )
    ap.add_argument(
        "--sample-rate",
        type=float,
        default=1.0,
        help="deterministic content-hash downsample of the curated set "
        "(1.0 = keep all; same kept set every rerun)",
    )
    ap.add_argument("--sample-salt", default="", help="rotate for an independent re-draw")
    ap.add_argument(
        "--near-dedup",
        type=float,
        default=0.0,
        help="fuzzy-dedup Jaccard threshold (0 = off): after exact dedup, "
        "MinHash-LSH candidates verified by exact word-Jaccard >= J "
        "collapse to one representative per near-dup family",
    )
    ap.add_argument(
        "--near-dedup-mode",
        choices=["star", "pairs"],
        default="star",
        help="LSH candidate form: 'star' (scale default — each bucket "
        "emits pivot-member edges, O(n) per bucket) or 'pairs' (exact "
        "all-pairs, O(n^2) per bucket — small corpora only)",
    )
    ap.add_argument(
        "--near-dedup-rounds",
        type=int,
        default=2,
        help="star-mode rounds: each round re-buckets the survivors with "
        "a rotated bucket pivot, catching member pairs earlier anchors "
        "missed; every round stays O(n) per bucket (ignored in pairs mode)",
    )
    ap.add_argument(
        "--conv-near-dedup",
        type=float,
        default=0.0,
        help="CONVERSATION-level fuzzy-dedup Jaccard threshold (0 = off): "
        "whole conversations re-assembled in turn order and near-deduped "
        "BEFORE turn-level dedup, so a lightly-edited re-uploaded "
        "conversation drops as a unit instead of fragmenting into orphan "
        "edited turns.  In --incremental mode the increment is ALSO "
        "checked against the whole history via the persisted "
        "conv_lsh_index sidecar (one row per conv per band; only the "
        "increment's conversations are re-assembled and hashed)",
    )
    ap.add_argument(
        "--strip-corpus-min-df",
        type=int,
        default=0,
        help="CORPUS-level boilerplate strip (0 = off): any line present "
        "in >= N distinct turns across the whole input is removed "
        "everywhere (the C4 rule) - catches banners that appear once per "
        "conversation but in every conversation, which the conv-scoped "
        "strip cannot see.  Applies to this run's input (the increment "
        "in --incremental mode)",
    )
    ap.add_argument(
        "--near-dedup-candidates",
        type=int,
        default=32,
        help="incremental runs verify each new row against at most this "
        "many history representatives per colliding LSH bucket "
        "(deterministic lowest keys; bounds templated hot-bucket blowup)",
    )
    ap.add_argument(
        "--near-dedup-cap",
        type=int,
        default=1000,
        help="drop LSH buckets larger than this from pairing (bounds the "
        "O(n^2) boilerplate-bucket blowup; dropped buckets are few and "
        "auditable via lsh_oversized_buckets)",
    )
    ap.add_argument(
        "--input-snapshot",
        action="store_true",
        help="treat --input as a snapshot-log table root (sources/"
        "snapshots.py) and read it snapshot-isolated instead of as a "
        "raw parquet directory",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="process only input files appended since the last "
        "incremental run (seq recorded in the output commit manifest), "
        "anti-join new fingerprints against the existing curated "
        "output, and append atomically; requires --input-snapshot and "
        "--snapshot",
    )
    ap.add_argument(
        "--compact-after",
        type=int,
        default=0,
        help="after a snapshot commit, if the live table holds more than "
        "this many files, compact it (and the LSH index) to target-sized "
        "files clustered by conv_id — the incremental loop's small-file "
        "lifecycle (0 = never; incremental appends accrete O(runs) "
        "files, and scan task count + manifest pressure are O(files))",
    )
    ap.add_argument(
        "--snapshot",
        action="store_true",
        help="commit output through the snapshot log (sources/snapshots.py, "
        "the Iceberg-analog): each run lands as ONE atomic, addressable "
        "snapshot with the curation metrics inside the commit manifest — "
        "repeated runs accumulate a time-travelable history instead of "
        "overwriting",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from jobs.extract import _resolve_config
    from table_ocr_spark.session import job_session

    cfg = _resolve_config(args.config, None)
    langs = [x for x in args.langs.split(",") if x]
    if args.incremental and not (args.input_snapshot and args.snapshot):
        raise SystemExit("--incremental requires --input-snapshot and --snapshot")
    with job_session("curate", args.cores) as spark:
        return _curate(spark, args, cfg, langs)


def _curate(spark, args, cfg, langs: list) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from table_ocr_spark.session import persist
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA

    def _report(summary: dict) -> int:
        # every exit writes the same sidecar (no-new-input and
        # already-committed ones too) — a monitoring reader always
        # finds the latest run's summary here — and prints it
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "_curation_summary.json"), "w") as f:
            json.dump(summary, f, indent=1, default=str)
        print(json.dumps(summary, default=str))
        return 0

    in_seq = None
    out_table = None
    if args.input_snapshot:
        from table_ocr_spark.sources.snapshots import SnapshotTable

        in_table = SnapshotTable(args.input)
        in_seq = in_table.current_seq()
        if in_seq is None:
            raise SystemExit(f"input snapshot table at {args.input} is empty")
        if args.incremental:
            out_table = SnapshotTable(os.path.join(args.output, "table"))
            # resume point: newest output commit that recorded a consumed
            # input seq (driver-side manifest walk, no data reads).
            # after_seq_base pins the OUTPUT seq this plan was derived
            # from — the concurrent-increment guard at commit time only
            # inspects commits newer than it.
            after_seq = 0
            after_seq_base = out_table.current_seq() or 0
            for h in out_table.iter_history_newest_first():
                if "input_seq_processed" in h["summary"]:
                    after_seq = int(h["summary"]["input_seq_processed"])
                    break
            if after_seq >= in_seq:
                summary = {
                    "input": args.input,
                    "output": args.output,
                    "input_seq_processed": after_seq,
                    "rows_in": 0,
                    "rows_out": 0,
                    "no_new_input": True,
                }
                return _report(summary)
            src = in_table.read_changes(spark, after_seq=after_seq, until_seq=in_seq)
        else:
            src = in_table.read(spark, seq=in_seq)
    else:
        src = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
    # rows_in rides the SAME write action as the output metrics: observe on
    # the pre-filter frame, not a post-write src.count() (which would be a
    # second input job — a material extra pass at the 100 TB design point).
    # The dedup semi-join references the observed node from both branches;
    # Spark still reports the metric once (verified), not doubled.
    obs_in = Observation("curation_in")
    src = src.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
    # rows_kept (post-filter, pre-dedup) rides the same action → the dedup
    # collapse rate is reportable without any extra pass
    obs_kept = Observation("curation_kept")
    eval_df = (
        spark.read.parquet(args.decontam_input) if args.decontam_input else None
    )
    curated = build_curated(
        src,
        cfg,
        args.min_quality,
        langs,
        args.strip_ratio,
        kept_observation=obs_kept,
        eval_df=eval_df,
        decontam_n=args.decontam_ngram,
        max_turns_per_conv=args.max_turns_per_conv or None,
        sample_rate=args.sample_rate,
        sample_salt=args.sample_salt,
        near_dup_threshold=args.near_dedup or None,
        near_dup_cap=args.near_dedup_cap,
        near_dup_mode=args.near_dedup_mode,
        near_dup_rounds=args.near_dedup_rounds,
        conv_near_dup_threshold=args.conv_near_dedup or None,
        corpus_strip_min_df=args.strip_corpus_min_df or None,
    )
    if out_table is not None and args.conv_near_dedup:
        # cross-increment CONVERSATION near-dedup via a persisted
        # conv-granularity LSH band index (conv_lsh_index sidecar):
        # history participates as one (conv_id, band, bucket) row per
        # conv per band — a few bytes regardless of conversation
        # length — so each run re-assembles and hashes ONLY the
        # increment's conversations.  Candidates equi-join the index;
        # old conv texts are re-assembled for CANDIDATE convs only
        # (key-pruned semi-join); side-prefixed keys make a re-ingested
        # conv id verify new-vs-old text, never new-vs-new (the same
        # self-pair hazard as the turn-level block above).  An increment
        # conv near-matching history drops whole — the committed
        # representative wins, rerun-stable.
        from table_ocr_spark.operators.conv_scope import conv_text
        from table_ocr_spark.operators.dedup import (
            lsh_pairs_against,
            verify_pairs_jaccard,
        )
        from table_ocr_spark.sources.snapshots import SnapshotTable

        conv_idx_table = SnapshotTable(os.path.join(args.output, "conv_lsh_index"))
        _sync_conv_lsh_index(spark, out_table, conv_idx_table)
        if conv_idx_table.current_seq() is not None:
            # referenced by the conv re-assembly AND the final anti-join —
            # uncached, the whole upstream chain executes twice
            curated = persist(curated)
            # conv_new is itself referenced twice (LSH banding + the
            # verify text side) — persist, or the collect-per-conv
            # aggregation runs twice even over the cached curated frame
            conv_new = persist(conv_text(curated.select("conv_id", "turn_idx", "text")))
            cand = lsh_pairs_against(
                conv_new,
                conv_idx_table.read(spark),
                text="text",
                key="conv_id",
                max_bucket_size=args.near_dedup_cap,
                max_candidates_per_bucket=args.near_dedup_candidates,
            )
            old_rows = out_table.read(spark).join(
                cand.select(F.col("key_old").alias("conv_id")).distinct(),
                "conv_id",
                "left_semi",
            )
            conv_old = conv_text(old_rows.select("conv_id", "turn_idx", "text"))
            pairs = verify_pairs_jaccard(
                cand.select(
                    F.concat(F.lit("n#"), "key_new").alias("key_a"),
                    F.concat(F.lit("o#"), "key_old").alias("key_b"),
                ),
                conv_new.select(
                    F.concat(F.lit("n#"), "conv_id").alias("conv_id"), "text"
                ).unionByName(
                    conv_old.select(
                        F.concat(F.lit("o#"), "conv_id").alias("conv_id"), "text"
                    )
                ),
                text="text",
                key="conv_id",
                threshold=args.conv_near_dedup,
            )
            drop = pairs.select(
                F.expr("substring(key_a, 3)").alias("conv_id")
            ).distinct()
            curated = curated.join(drop, "conv_id", "left_anti")

    if out_table is not None and out_table.current_seq() is not None:
        # cross-increment exact dedup: a new row whose content already
        # lives in the curated table is dropped.  The existing output is
        # scanned column-pruned (fingerprint only — kilobytes per file at
        # any scale thanks to parquet projection) and the anti-join's
        # build side is the INCREMENT, which is the small side by
        # construction in steady state.
        prev_fp = out_table.read(spark).select("fingerprint")
        curated = curated.join(prev_fp, "fingerprint", "left_anti")

    if out_table is not None and args.near_dedup:
        # cross-increment NEAR-dedup via the persisted LSH band index:
        # history participates as (key, band, bucket) rows — a few bytes
        # per doc per band — so each run shingles/hashes ONLY the
        # increment, equi-joins its bands against the index, verifies
        # exact Jaccard on candidates (old texts fetched key-pruned from
        # the curated table), and drops new rows near-matching history
        # (the existing representative wins — rerun-stable by design).
        from table_ocr_spark.operators.dedup import (
            lsh_pairs_against,
            verify_pairs_jaccard,
        )
        from table_ocr_spark.sources.snapshots import SnapshotTable

        idx_table = SnapshotTable(os.path.join(args.output, "lsh_index"))
        _sync_lsh_index(spark, out_table, idx_table)
        if idx_table.current_seq() is not None:
            with_k = persist(curated.withColumn(
                "_k", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
            ))
            # persist: referenced by the candidate build, the verify text
            # join, and the final anti-join — uncached, the whole
            # extract→score→dedup chain would execute three times
            cand = lsh_pairs_against(
                with_k,
                idx_table.read(spark),
                text="text",
                key="_k",
                max_bucket_size=args.near_dedup_cap,
                max_candidates_per_bucket=args.near_dedup_candidates,
            )
            # the verify text frame holds BOTH sides, and a re-ingested
            # (conv, turn) key can exist on both (the exact anti-join
            # passes it when its text was rewritten) — an unprefixed
            # union would fan the verify join out to new-vs-new (jaccard
            # 1.0, spurious self-drop).  Side prefixes make every key
            # unique: each candidate verifies NEW text against OLD text,
            # so a rewritten re-ingest is dropped only if it genuinely
            # near-matches its history version.
            old_texts = (
                out_table.read(spark)
                .select(
                    F.concat_ws(
                        "#", "conv_id", F.col("turn_idx").cast("string")
                    ).alias("_k0"),
                    "text",
                )
                .join(
                    cand.select(F.col("key_old").alias("_k0")).distinct(),
                    "_k0",
                    "left_semi",
                )
                .select(F.concat(F.lit("o#"), "_k0").alias("_k"), "text")
            )
            new_texts = with_k.select(
                F.concat(F.lit("n#"), "_k").alias("_k"), "text"
            )
            pairs = verify_pairs_jaccard(
                cand.select(
                    F.concat(F.lit("n#"), "key_new").alias("key_a"),
                    F.concat(F.lit("o#"), "key_old").alias("key_b"),
                ),
                new_texts.unionByName(old_texts),
                text="text",
                key="_k",
                threshold=args.near_dedup,
            )
            drop = pairs.select(
                F.expr("substring(key_a, 3)").alias("_k")
            ).distinct()
            curated = with_k.join(drop, "_k", "left_anti").drop("_k")

    # stage metrics ride the single write pass via observe — no extra scan
    obs = Observation("curation")
    # NB: observe() metrics must be DISTINCT-free aggregates; fingerprint
    # uniqueness is guaranteed by the dedup semi-join, not re-measured here
    curated = curated.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum("n_tokens").alias("tokens_out"),
        F.round(F.min("quality"), 6).alias("min_quality_out"),
        F.count(F.when(F.col("split") == "train", 1)).alias("rows_train"),
        F.count(F.when(F.col("split") == "val", 1)).alias("rows_val"),
        F.count(F.when(F.col("split") == "test", 1)).alias("rows_test"),
    )
    import time

    t0 = time.time()

    def _obs_get(o, defaults: dict, degraded: list) -> dict:
        # AQE's empty-relation fold can eliminate a CollectMetrics node
        # when its input turns out empty at runtime (e.g. an increment
        # whose every row anti-joins away), completing the observation
        # with a null row — degrade to the zero-row defaults and record
        # it rather than dying AFTER the data files were staged
        try:
            got = o.get
            return got if got else dict(defaults)
        except Exception:
            degraded.append(list(defaults)[0])
            return dict(defaults)

    def _metrics() -> dict:
        # only valid after the write action ran (observe() semantics)
        degraded: list = []
        m = {
            "input": args.input,
            "output": args.output,
            "min_quality": args.min_quality,
            "langs": langs or "all",
            **_obs_get(obs_in, {"rows_in": 0}, degraded),
            **_obs_get(obs_kept, {"rows_kept": 0}, degraded),
            **_obs_get(
                obs,
                {
                    "rows_out": 0,
                    "tokens_out": 0,
                    "min_quality_out": None,
                    "rows_train": 0,
                    "rows_val": 0,
                    "rows_test": 0,
                },
                degraded,
            ),
        }
        m["dedup_collapsed"] = m["rows_kept"] - m["rows_out"]
        if degraded:
            m["metrics_degraded"] = degraded
        if in_seq is not None:
            m["input_seq_processed"] = in_seq
        return m

    if args.snapshot:
        # snapshot mode: the run commits atomically — a reader either sees
        # the whole run or none of it, and every prior run stays
        # addressable (time travel / rollback).  `split` rides as a data
        # column; split-selective readers rely on parquet row-group stats
        # (an extra clustering shuffle to regain file-level pruning is a
        # cost the atomicity does not require).
        from table_ocr_spark.sources.snapshots import SnapshotTable

        table = out_table or SnapshotTable(os.path.join(args.output, "table"))
        if args.incremental:
            # incremental runs commit only the new increment's rows —
            # append is the correct semantics (and read_changes already
            # made the job a no-op when there is no new input).
            #
            # The single-writer contract is ENFORCED, not assumed: two
            # runs racing on the same unprocessed input seq would both
            # anti-join against the same committed state and both
            # append — the snapshot layer's blind rebase-retry cannot
            # tell "independent commit" from "my increment, landed by
            # someone else".  The validator re-walks the output history
            # on every commit attempt and aborts (staged files cleaned)
            # when a commit newer than our resume base already records
            # input_seq_processed >= our input seq.
            def _guard_concurrent_increment():
                # Abort when ANY commit newer than our resume base has
                # consumed input PAST the input base this plan read from
                # (> after_seq) — not just when it reached our head seq.
                # A concurrent run that pinned a lower input head (e.g.
                # in_seq-1) still overlaps our (after_seq, in_seq] range:
                # its commit means our anti-join frame was resolved
                # against a pre-race snapshot and appending would land
                # the overlapping seqs twice (ADVICE r6 #1).  On abort
                # the rerun re-derives after_seq from the winner.
                for h in out_table.iter_history_newest_first():
                    if h["seq"] <= after_seq_base:
                        break
                    s = h["summary"]
                    if ("input_seq_processed" in s
                            and int(s["input_seq_processed"]) > after_seq):
                        raise _ConcurrentIncrement(
                            f"input range ({after_seq}, {in_seq}] overlaps a "
                            f"concurrent run's commit (output seq {h['seq']} "
                            f"consumed to input seq {s['input_seq_processed']})"
                        )

            try:
                seq = table.append(
                    curated,
                    summary_fn=_metrics,
                    validate_fn=_guard_concurrent_increment,
                )
            except _ConcurrentIncrement as e:
                summary = {
                    "input": args.input,
                    "output": args.output,
                    "input_seq_processed": in_seq,
                    "rows_out": 0,
                    "increment_already_committed": True,
                    "detail": str(e),
                }
                return _report(summary)
        else:
            # a full (non-incremental) run recomputes the WHOLE corpus:
            # commit via overwrite so rerunning the identical command is
            # idempotent at HEAD (ADVICE r5 — append silently doubled the
            # live table on an operator retry).  Every prior run stays
            # addressable through time travel; nothing is lost.
            seq = table.overwrite(curated, summary_fn=_metrics)
        summary = dict(table.manifest(seq)["summary"])
        summary["snapshot_seq"] = seq
        if args.incremental and args.near_dedup:
            # index the rows this run just committed (reads back only the
            # new files, key+text pruned); a crash before this line just
            # leaves the index one seq behind — the next run's sync heals
            _sync_lsh_index(spark, table, SnapshotTable(os.path.join(args.output, "lsh_index")))
        if args.incremental and args.conv_near_dedup:
            _sync_conv_lsh_index(
                spark, table, SnapshotTable(os.path.join(args.output, "conv_lsh_index"))
            )
        if args.compact_after and len(table.manifest()["files"]) > args.compact_after:
            # conv_id clustering keeps each file a tight key slice, so
            # forget-merges and key-pruned reads touch O(matched files);
            # the index sync's rebuild fallback absorbs the non-append
            # commit on its next run
            summary["compacted_seq"] = table.compact(spark, cluster_by=["conv_id"])
            idx = SnapshotTable(os.path.join(args.output, "lsh_index"))
            if idx.current_seq() is not None and len(idx.manifest()["files"]) > args.compact_after:
                summary["compacted_index_seq"] = idx.compact(spark, cluster_by=["_k"])
            cidx = SnapshotTable(os.path.join(args.output, "conv_lsh_index"))
            if cidx.current_seq() is not None and len(cidx.manifest()["files"]) > args.compact_after:
                summary["compacted_conv_index_seq"] = cidx.compact(spark, cluster_by=["conv_id"])
    else:
        (
            curated.write.mode("overwrite")
            .partitionBy("split")
            .parquet(os.path.join(args.output, "data"))
        )
        summary = _metrics()
    summary["wall_ms"] = int((time.time() - t0) * 1000)
    return _report(summary)


if __name__ == "__main__":
    sys.exit(main())

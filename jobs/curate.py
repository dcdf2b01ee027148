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
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _ConcurrentIncrement(Exception):
    """A concurrent incremental run already committed this input seq —
    appending again would duplicate the increment."""


def turn_key():
    """The composite turn key ``conv_id#turn_idx`` — the one string key
    every turn-level join (near-dedup, decontamination, quota ids, the
    turn LSH index and its forget scrub) uses."""
    from pyspark.sql import functions as F

    return F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))


def _turn_keyed(rows):
    return rows.withColumn("_k", turn_key())


def _conv_units(rows):
    from table_ocr_spark.operators.conv_scope import conv_text

    return conv_text(rows.select("conv_id", "turn_idx", "text"))


@dataclass(frozen=True)
class LshIndex:
    """One near-dedup granularity and its persisted LSH band index: a
    snapshot-log sidecar ``<output>/<dir>`` of (key, band, bucket) rows,
    one per indexed unit per band, that later increments equi-join
    instead of re-banding the history's text.  Compaction clusters the
    index by ``key``.

    ``keyed(rows)`` adds ``key`` to curated rows; ``assemble(keyed)``
    builds one (key, text) unit per key from several rows, or is None
    when every row is its own unit.  ``catchup_full_reband``: units can
    grow between syncs, so a catch-up across a compaction re-bands the
    live set (see ``_sync_index``).  ``tag`` names the summary keys:
    ``compacted_<tag>_seq`` (curate), ``<tag>_seq`` and
    ``expired_<tag>`` (forget)."""

    dir: str
    tag: str
    key: str
    keyed: Callable
    assemble: Callable | None
    catchup_full_reband: bool

    def table(self, root: str):
        from table_ocr_spark.sources.snapshots import SnapshotTable

        return SnapshotTable(os.path.join(root, self.dir))

    def units(self, keyed):
        return keyed if self.assemble is None else self.assemble(keyed)


# one row per turn, keyed by the turn key
TURN_INDEX = LshIndex("lsh_index", "index", "_k", _turn_keyed, None, False)
# one row per conversation, re-assembled in turn order (``conv_text``) —
# a few bytes regardless of conversation length.  A conversation whose
# turns span increments gets one banding generation per increment (each
# reflecting that increment's turns) — conservative: extra index rows
# can only ADD candidates, and the exact Jaccard verify decides.
CONV_INDEX = LshIndex(
    "conv_lsh_index", "conv_index", "conv_id", lambda rows: rows, _conv_units, True
)
INDEXES = (TURN_INDEX, CONV_INDEX)


def _near_dedup_batch(rows, idx: LshIndex, threshold, cap, rounds=1, all_pairs=False):
    """Within-batch near-dedup of ``rows`` at ``idx``'s granularity:
    MinHash-LSH candidates (star form, or all-pairs with ``all_pairs``)
    → exact word-Jaccard verify on candidates only → connected
    components → keep the component-min unit; every row of a dropped
    unit goes with it.  Returns ``rows``' columns.

    Rounds after the first re-bucket the survivors with a rotated
    (salted-argmin) star pivot, so they need per-row units (the turn
    granularity); an assembled granularity runs one round."""
    from table_ocr_spark.operators.dedup import (
        dedup_near_representatives,
        minhash_lsh_pairs,
        minhash_lsh_star_pairs,
        verify_pairs_jaccard,
    )
    from table_ocr_spark.session import persist

    keyed = idx.keyed(rows)
    if idx.assemble is None:
        # referenced by the LSH build, both verify text joins, and the
        # final anti-join — persist or the exact-dedup semi-join subtree
        # executes four times
        keyed = units = persist(keyed)
    else:
        # referenced by the LSH banding and both verify text joins —
        # without a persist the whole collect-per-conv (and the
        # extraction chain under it) executes three times
        units = persist(idx.assemble(keyed))
    # materialize ONCE before the CC loop's eager checkpoints: an
    # Observation attached upstream (rows_in / rows_kept) completes
    # on the FIRST action that contains its node, and when the LSH
    # candidate set is empty AQE's empty-relation fold can eliminate
    # the CollectMetrics node from a checkpoint action's plan — the
    # observation then completes with a null row and Observation.get
    # raises (reproduced with a corpus yielding zero candidates).
    # This clean full pass completes the observations with correct
    # values and warms the cache every downstream branch shares.
    units.count()
    surv = keyed
    pend: list = []  # persisted survivor frames not yet droppable
    for r in range(rounds):
        if all_pairs:
            cand = minhash_lsh_pairs(units, "text", idx.key, max_bucket_size=cap)
        else:
            cand = minhash_lsh_star_pairs(
                units,
                "text",
                idx.key,
                max_bucket_size=cap,
                pivot_salt=str(r) if r else "",
            )
        pairs = verify_pairs_jaccard(
            cand, units, text="text", key=idx.key, threshold=threshold
        )
        # the CC inside runs EAGERLY (checkpointed edges) — once
        # it has materialized through this round's surv, the
        # frame persisted two rounds back is recompute-bounded
        # (checkpoint-cut drops + cached keyed rows) and can go;
        # holding every round's cache would pin O(rounds)
        # corpus-sized entries at the 100 TB design point
        surv = dedup_near_representatives(surv, pairs, key=idx.key)
        if len(pend) >= 2:
            pend.pop(0).unpersist(False)
        if r + 1 < rounds:
            # next round references the survivor frame from four
            # branches (banding, both verify sides, anti-join)
            surv = units = persist(surv)
            pend.append(surv)
    return surv.select(*rows.columns)


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
        # aggregated collect per conv); star candidates over the conv
        # texts stay O(n) per bucket.
        kept = _near_dedup_batch(kept, CONV_INDEX, conv_near_dup_threshold, near_dup_cap)

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
        # LSH stage never hashes byte-identical copies; hot buckets are
        # capped so boilerplate can't go O(n²).  Every join is keyed by
        # the narrow composite turn key; the full text shuffles only for
        # the candidate-pair verify projections.  Star is the SCALE default: templated corpora make hundreds of
        # 100-5000-member buckets whose all-pairs explosion stalls the
        # verify stage (measured: 33.5M pairs under cap 1000 at sf0.1 —
        # hours; star emits <1M).  `pairs` keeps the exact all-pairs form
        # for small corpora, in one round.  Iterated star: round 1 anchors
        # each bucket at its min key; each further round re-buckets the
        # SURVIVORS with a rotated (salted-argmin) pivot, so member pairs
        # that both missed an earlier anchor get a new one to meet
        # through.  Every round is O(n) per bucket; measured at sf0.01,
        # round 2 closes most of the star-vs-all-pairs recall gap
        # (BENCH/CURATE.md).
        all_pairs = near_dup_mode == "pairs"
        rounds = 1 if all_pairs else max(1, near_dup_rounds)
        deduped = _near_dedup_batch(
            deduped, TURN_INDEX, near_dup_threshold, near_dup_cap, rounds, all_pairs
        )
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

        bad = contaminated_keys(
            kept.withColumn("_k", turn_key()), eval_df, text="text", key="_k", n=decontam_n
        ).withColumnRenamed("k", "_k")
        deduped = (
            deduped.withColumn("_k", turn_key()).join(bad, "_k", "left_anti").drop("_k")
        )
    if max_turns_per_conv:
        # per-conversation quota: a 100k-turn agent loop shouldn't dominate
        # the corpus — keep the N highest-quality turns per conv via the
        # skew-safe two-phase cap (operators/sampling.py): the hot conv
        # spreads over 32 salt buckets before the exact per-conv window
        from table_ocr_spark.operators.sampling import cap_per_key

        deduped = cap_per_key(
            deduped.withColumn("_cap_id", turn_key()),
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


def _sync_index(spark, out_table, index_table, idx: LshIndex):
    """Bring ``idx``'s LSH-index sidecar table up to the curated data
    table's current seq: band ONLY the data increments the index does not
    cover yet (``read_changes`` — zero reads of already-indexed files) and
    append them with the covered data seq in the commit summary.

    Idempotent and crash-healing: a run that died between its data
    append and its index append leaves the index behind by one seq, and
    the next run's sync closes the gap before using the index — the
    index can lag (briefly missing candidates) but never lies.  Indexes
    are stamped with the hash-algorithm tag; a mismatch (or legacy
    untagged index) forces a full rebuild instead of silently never
    colliding with fresh buckets."""
    from table_ocr_spark.operators.dedup import LSH_ALGO, lsh_banded

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

    def band(keyed):
        return lsh_banded(idx.units(keyed), text="text", key=idx.key)

    def live():
        return idx.keyed(out_table.read(spark))

    if not algo_ok:
        index_table.overwrite(band(live()), summary=stamp())
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
            index_table.append(band(live()), summary=stamp())
            return
        if ops <= {"append", "compact"}:
            if "append" not in ops:
                # compact-only range: compaction rewrites file LAYOUT
                # but preserves every row, so no unit can be missing
                # or have gained rows — skip the O(corpus) re-band and
                # index anti-join and take a metadata-only seq catch-up
                index_table.append(band(live().limit(0)), summary=stamp())
                return
            if idx.catchup_full_reband:
                # conversation granularity: a conv already in the index
                # may have gained NEW turns inside the uncovered range —
                # a bare-key anti-join would skip it and leave its bands
                # permanently computed from the older, shorter text
                # (ADVICE r6 #3).  Re-band the whole live set and append
                # only band rows the index does not hold yet (full-row
                # anti-join): unchanged convs collapse to zero new rows,
                # grown convs gain a fresh generation, prior generations
                # are preserved (extra rows only ADD candidates).
                fresh = band(live())
                existing = index_table.read(spark).select(*fresh.columns)
                index_table.append(
                    fresh.join(existing, list(fresh.columns), "left_anti"),
                    summary=stamp(),
                )
                return
            # turn granularity: a turn's text is immutable, so the cheap
            # key-level anti-join is exact.  File-diff change tracking is
            # void across a compaction while row coverage is not: band
            # only the live rows whose key the index lacks
            unindexed = live().join(
                index_table.read(spark).select(idx.key).distinct(),
                idx.key,
                "left_anti",
            )
            index_table.append(band(unindexed), summary=stamp())
            return
        # a row-REMOVING commit (forget-merge, rollback) sits between the
        # covered seq and HEAD — rebuild the index from the live table:
        # one banding pass over the surviving corpus (no text
        # re-extraction), committed as an overwrite so forgotten rows'
        # derived bands drop out of the live index too
        index_table.overwrite(band(live()), summary=stamp())
        return
    index_table.append(band(idx.keyed(rows)), summary=stamp())


def _dedup_against_history(spark, curated, out_table, idx: LshIndex, threshold, args):
    """Cross-increment near-dedup of ``curated`` at ``idx``'s
    granularity via its persisted LSH band index: history participates
    as (key, band, bucket) rows — a few bytes per unit per band — so each
    run bands ONLY the increment's units, equi-joins them against the
    index, verifies exact Jaccard on candidates (old units rebuilt from
    the curated table for CANDIDATE keys only, key-pruned semi-join), and
    drops every increment row whose unit near-matches history (the
    committed representative wins — rerun-stable by design).  The index
    is synced to the data table first."""
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.dedup import (
        lsh_pairs_against,
        verify_pairs_jaccard,
    )
    from table_ocr_spark.session import persist

    index_table = idx.table(args.output)
    _sync_index(spark, out_table, index_table, idx)
    if index_table.current_seq() is None:
        return curated
    key = idx.key
    # referenced by the candidate build, the verify text join, and the
    # final anti-join — uncached, the whole extract→score→dedup chain
    # would execute three times
    keyed = persist(idx.keyed(curated))
    # assembled units are themselves referenced twice (LSH banding + the
    # verify text side) — persist, or the collect-per-conv aggregation
    # runs twice even over the cached keyed frame
    new = keyed if idx.assemble is None else persist(idx.assemble(keyed))
    cand = lsh_pairs_against(
        new,
        index_table.read(spark),
        text="text",
        key=key,
        max_bucket_size=args.near_dedup_cap,
        max_candidates_per_bucket=args.near_dedup_candidates,
    )
    old = idx.units(
        idx.keyed(out_table.read(spark)).join(
            cand.select(F.col("key_old").alias(key)).distinct(), key, "left_semi"
        )
    )
    # the verify text frame holds BOTH sides, and a re-ingested key can
    # exist on both (the exact anti-join passes a (conv, turn) whose text
    # was rewritten) — an unprefixed union would fan the verify join out
    # to new-vs-new (jaccard 1.0, spurious self-drop).  Side prefixes
    # make every key unique: each candidate verifies NEW text against OLD
    # text, so a rewritten re-ingest is dropped only if it genuinely
    # near-matches its history version.
    pairs = verify_pairs_jaccard(
        cand.select(
            F.concat(F.lit("n#"), "key_new").alias("key_a"),
            F.concat(F.lit("o#"), "key_old").alias("key_b"),
        ),
        new.select(F.concat(F.lit("n#"), key).alias(key), "text").unionByName(
            old.select(F.concat(F.lit("o#"), key).alias(key), "text")
        ),
        text="text",
        key=key,
        threshold=threshold,
    )
    drop = pairs.select(F.expr("substring(key_a, 3)").alias(key)).distinct()
    return keyed.join(drop, key, "left_anti").select(*curated.columns)


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
        # cross-increment CONVERSATION near-dedup, before the exact
        # anti-join for the same reason the within-batch conv stage runs
        # before turn dedup: each run re-assembles and hashes ONLY the
        # increment's conversations, and an increment conv near-matching
        # history drops whole
        curated = _dedup_against_history(
            spark, curated, out_table, CONV_INDEX, args.conv_near_dedup, args
        )

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
        curated = _dedup_against_history(
            spark, curated, out_table, TURN_INDEX, args.near_dedup, args
        )

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
        for idx, threshold in ((TURN_INDEX, args.near_dedup), (CONV_INDEX, args.conv_near_dedup)):
            if args.incremental and threshold:
                # index the rows this run just committed (reads back only
                # the new files, key+text pruned); a crash before this
                # line just leaves the index one seq behind — the next
                # run's sync heals
                _sync_index(spark, table, idx.table(args.output), idx)
        if args.compact_after and len(table.manifest()["files"]) > args.compact_after:
            # conv_id clustering keeps each file a tight key slice, so
            # forget-merges and key-pruned reads touch O(matched files);
            # the index sync's rebuild fallback absorbs the non-append
            # commit on its next run
            summary["compacted_seq"] = table.compact(spark, cluster_by=["conv_id"])
            for idx in INDEXES:
                t = idx.table(args.output)
                if t.current_seq() is not None and len(t.manifest()["files"]) > args.compact_after:
                    summary[f"compacted_{idx.tag}_seq"] = t.compact(spark, cluster_by=[idx.key])
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

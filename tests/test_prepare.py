"""End-to-end tests for jobs/prepare.py — the training-prep last mile
(rebalance → deterministic shuffle → pack → bucket-sharded write).

The load-bearing property is PARALLELISM INVARIANCE: every assignment
(mixture keep-set, global order, pack slot, shard membership, row order
within a shard) is a deterministic function of row content, so the same
input prepared under different parallelism must produce identical
shards.  Pytest varies spark.sql.shuffle.partitions and the input's
partitioning on the shared session; the committed BENCH/PREPARE.md
receipt re-runs the CLI at real local[4] vs local[16]."""

import glob
import hashlib
import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F


def _curated_rows(n=400, langs=("en", "de")):
    """Rows in the curate-output schema (prepare's own semantics don't
    need the full curate job; the composed path has its own test)."""
    rows = []
    for i in range(n):
        lang = langs[i % len(langs)]
        text = f"document {i} body with some {lang} content " + ("filler " * (i % 7))
        rows.append(
            {
                "conv_id": f"c{i // 4:04d}",
                "turn_idx": i % 4,
                "text": text,
                "n_tokens": len(text.split()),
                "lang": lang,
                "quality": 0.5,
                "fingerprint": hashlib.md5(text.encode()).hexdigest(),
                "split": "train" if i % 10 else "val",
            }
        )
    return rows


@pytest.fixture(scope="module")
def curated_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("curated"))
    df = spark.createDataFrame(
        _curated_rows(),
        "conv_id string, turn_idx int, text string, n_tokens long, "
        "lang string, quality double, fingerprint string, split string",
    )
    df.write.mode("overwrite").partitionBy("split").parquet(os.path.join(root, "data"))
    return root


def _shard_digest(out_root):
    """bucket -> md5 over (rows in FILE order) — detects any content OR
    within-shard ordering difference, via an independent reader."""
    digests = {}
    for d in sorted(glob.glob(os.path.join(out_root, "shards", "pack_bucket=*"))):
        bucket = int(d.rsplit("=", 1)[1])
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        assert len(files) == 1, f"bucket {bucket} must be exactly one shard file"
        rel = duckdb.sql(
            "SELECT conv_id, turn_idx, seq_id, seq_offset, n_tokens "
            f"FROM read_parquet('{files[0]}')"
        ).fetchall()
        digests[bucket] = hashlib.md5(repr(rel).encode()).hexdigest()
    return digests


def _run(spark, monkeypatch, curated_dir, out, shuffle_partitions, extra=()):
    from table_ocr_spark import session as session_mod

    import jobs.prepare as P

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        args = [
            "--input", curated_dir,
            "--output", out,
            "--budget", "64",
            "--buckets", "8",
            *extra,
        ]
        assert P.main(args) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    with open(os.path.join(out, "_prepare_summary.json")) as f:
        return json.load(f)


def test_prepare_shards_are_parallelism_invariant(
    spark, monkeypatch, curated_dir, tmp_path
):
    s_lo = _run(spark, monkeypatch, curated_dir, str(tmp_path / "lo"), 2)
    s_hi = _run(spark, monkeypatch, curated_dir, str(tmp_path / "hi"), 32)
    assert s_lo["rows_out"] == s_hi["rows_out"] > 0
    assert s_lo["tokens_out"] == s_hi["tokens_out"]
    d_lo = _shard_digest(str(tmp_path / "lo"))
    d_hi = _shard_digest(str(tmp_path / "hi"))
    assert d_lo == d_hi and len(d_lo) > 1


def test_prepare_packing_invariants(spark, monkeypatch, curated_dir, tmp_path):
    out = str(tmp_path / "o")
    s = _run(spark, monkeypatch, curated_dir, out, 8)
    # only the train split is prepared by default
    n_train = (
        spark.read.parquet(os.path.join(curated_dir, "data"))
        .filter(F.col("split") == "train")
        .count()
    )
    assert s["rows_in"] == s["rows_out"] == n_train
    rel = duckdb.sql(
        "SELECT pack_bucket, seq_id, seq_offset, n_tokens FROM "
        f"read_parquet('{out}/shards/pack_bucket=*/*.parquet', hive_partitioning=1) "
        "ORDER BY pack_bucket, seq_id, seq_offset"
    ).fetchall()
    assert len(rel) == s["rows_out"]
    # within each bucket: offsets < budget, and the slot equals the
    # running token sum cut every `budget` tokens
    budget = s["budget"]
    cum = {}
    for bucket, seq_id, seq_offset, n_tokens in rel:
        start = cum.get(bucket, 0)
        assert seq_id == start // budget
        assert seq_offset == start % budget < budget
        cum[bucket] = start + n_tokens
    assert s["tokens_out"] == sum(cum.values())


def test_prepare_mixture_and_salt(spark, monkeypatch, curated_dir, tmp_path):
    out = str(tmp_path / "mix")
    s = _run(
        spark, monkeypatch, curated_dir, out, 8,
        extra=["--mixture", '{"en": 0.5, "de": 0.5}'],
    )
    shares = dict(
        duckdb.sql(
            f"SELECT lang, count(*) FROM read_parquet('{out}/shards/pack_bucket=*/*.parquet') GROUP BY lang"
        ).fetchall()
    )
    assert set(shares) == {"en", "de"}
    total = sum(shares.values())
    assert 0 < total <= s["rows_in"]
    # int64-exact PPM thresholds keep shares near 50/50
    assert abs(shares["en"] - shares["de"]) <= max(2, total // 20)

    # salt rotation: same keep-set, different order => digests differ
    base = _shard_digest(out)
    s2 = _run(
        spark, monkeypatch, curated_dir, str(tmp_path / "mix2"), 8,
        extra=["--mixture", '{"en": 0.5, "de": 0.5}', "--salt", "epoch1"],
    )
    assert s2["rows_out"] == s["rows_out"]  # keep-set is salt-independent
    assert _shard_digest(str(tmp_path / "mix2")) != base


def test_prepare_reads_curate_snapshot_output(spark, tmp_path, monkeypatch):
    """Full composition: curate --snapshot => prepare --input-snapshot."""
    import jobs.curate as C
    import jobs.prepare as P
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    pdf = synth.gen_pandas(10, seed=5, max_long=30)
    write_transcripts_parquet(pdf, str(tmp_path / "in"))
    curated = str(tmp_path / "curated")
    assert (
        C.main(["--input", str(tmp_path / "in"), "--output", curated, "--snapshot"]) == 0
    )
    prepared = str(tmp_path / "prepared")
    assert (
        P.main(
            ["--input", curated, "--input-snapshot", "--output", prepared,
             "--budget", "128", "--buckets", "4"]
        )
        == 0
    )
    with open(os.path.join(prepared, "_prepare_summary.json")) as f:
        s = json.load(f)
    assert s["rows_out"] > 0
    got = spark.read.parquet(os.path.join(prepared, "shards")).count()
    assert got == s["rows_out"]

    # time travel: append more input, re-curate, then re-prep PINNED to
    # snapshot seq 1 — shards must reproduce the first run exactly even
    # though the table head has moved
    write_transcripts_parquet(synth.gen_pandas(4, seed=9, max_long=30), str(tmp_path / "in2"))
    assert (
        C.main(["--input", str(tmp_path / "in2"), "--output", curated, "--snapshot"]) == 0
    )
    pinned = str(tmp_path / "pinned")
    assert (
        P.main(
            ["--input", curated, "--input-snapshot", "--output", pinned,
             "--input-seq", "1", "--budget", "128", "--buckets", "4"]
        )
        == 0
    )
    assert _shard_digest(pinned) == _shard_digest(prepared)
    # and an unpinned re-prep sees the moved head (different corpus)
    head = str(tmp_path / "head")
    assert (
        P.main(
            ["--input", curated, "--input-snapshot", "--output", head,
             "--budget", "128", "--buckets", "4"]
        )
        == 0
    )
    assert _shard_digest(head) != _shard_digest(prepared)


def test_prepare_summary_flags_degraded_metrics(spark, monkeypatch, curated_dir, tmp_path):
    """A swallowed Observation failure must not masquerade as real zeros:
    the summary carries metrics_degraded (same contract as curate;
    VERDICT r6 'what's wrong' #2).  Forced by making Observation.get
    raise; the shard write itself must still complete."""
    from pyspark.sql import Observation

    out = str(tmp_path / "deg")
    monkeypatch.setattr(
        Observation, "get",
        property(lambda self: (_ for _ in ()).throw(RuntimeError("obs down"))),
    )
    s = _run(spark, monkeypatch, curated_dir, out, 8)
    assert s.get("metrics_degraded") is True
    assert s["rows_out"] == 0  # the default, visibly degraded
    # the write completed regardless
    assert glob.glob(os.path.join(out, "shards", "pack_bucket=*", "*.parquet"))


def test_prepare_summary_not_degraded_normally(spark, monkeypatch, curated_dir, tmp_path):
    s = _run(spark, monkeypatch, curated_dir, str(tmp_path / "ok"), 8)
    assert "metrics_degraded" not in s

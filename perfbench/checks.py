"""Correctness checks, read back with DuckDB as an independent reader.

Each check returns a list of failure strings (empty = pass).  The
benchmark counts an operation as failed when its call raised or any of its
checks failed.
"""

from __future__ import annotations

import glob
import json
import os
import random

import duckdb


def _q(sql: str, *params):
    return duckdb.connect().execute(sql, list(params)).fetchall()


def check_extract(input_path: str, out_root: str, n_in: int, seed: int, sample: int = 40) -> list:
    """rows out == rows in == Σ lineage turns, keys unique, and a seeded
    sample equal per turn to ``oracle.extract_frame``."""
    from table_ocr_spark.oracle import extract_frame

    fails = []
    data = glob.glob(os.path.join(out_root, "data", "*", "*", "*.parquet"))
    lineage = glob.glob(os.path.join(out_root, "_lineage", "*.parquet"))
    if not data or not lineage:
        return [f"extract output missing under {out_root}"]
    n_out, n_keys = _q(
        "select count(*), count(distinct (conv_id, turn_idx)) from read_parquet(?)", data
    )[0]
    (lin_turns,) = _q("select sum(turns) from read_parquet(?) where status = 'committed'", lineage)[0]
    if not (n_out == n_in == lin_turns == n_keys):
        fails.append(f"rows out {n_out}, in {n_in}, lineage {lin_turns}, distinct keys {n_keys}")

    inp = glob.glob(os.path.join(input_path, "*.parquet"))
    keys = _q("select conv_id, turn_idx from read_parquet(?) order by 1, 2", inp)
    picked = random.Random(seed).sample(keys, min(sample, len(keys)))
    con = duckdb.connect()
    con.execute("create temp table k(conv_id varchar, turn_idx integer)")
    con.executemany("insert into k values (?, ?)", picked)
    src = con.execute(
        "select t.conv_id, t.turn_idx, t.text from read_parquet(?) t join k using (conv_id, turn_idx)",
        [inp],
    ).df()
    got = con.execute(
        "select o.conv_id, o.turn_idx, o.clean_text, o.cells, o.spans, o.mode, o.boilerplate_ratio "
        "from read_parquet(?) o join k using (conv_id, turn_idx)",
        [data],
    ).fetchall()
    want = extract_frame(src)
    got.sort(key=lambda r: (r[0], r[1]))
    if len(got) != len(want):
        return fails + [f"oracle sample: {len(got)} output rows for {len(want)} keys"]
    for g, w in zip(got, want.itertuples(index=False)):
        if g[2:] != (w.clean_text, w.cells, w.spans, w.mode, w.boilerplate_ratio):
            fails.append(f"oracle mismatch at {g[0]}#{g[1]}")
    return fails


def live_files(table_root: str) -> tuple:
    """(current seq, live parquet paths) of a snapshot-log table, read from
    its newest manifest JSON."""
    metas = sorted(glob.glob(os.path.join(table_root, "_meta", "snap-*.json")))
    if not metas:
        return None, []
    with open(metas[-1]) as f:
        m = json.load(f)
    return m["seq"], [os.path.join(table_root, e["path"]) for e in m["files"]]


def newest_summary_value(table_root: str, key: str):
    for p in sorted(glob.glob(os.path.join(table_root, "_meta", "snap-*.json")), reverse=True):
        with open(p) as f:
            s = json.load(f).get("summary", {})
        if key in s:
            return s[key]
    return None


def check_increment(out_root: str, forgotten: set, want_input_seq: int | None, prev_seq) -> list:
    """Keys and fingerprints unique, forgotten conv_ids absent from
    ``table/`` and ``lsh_index/``, and (after a curate step)
    ``input_seq_processed`` advanced to the input table's head."""
    fails = []
    _, files = live_files(os.path.join(out_root, "table"))
    if not files:
        return ["curated table has no live files"]
    n, n_keys, n_fp = _q(
        "select count(*), count(distinct (conv_id, turn_idx)), count(distinct fingerprint) "
        "from read_parquet(?)",
        files,
    )[0]
    if not n == n_keys == n_fp:
        fails.append(f"{n} rows, {n_keys} distinct keys, {n_fp} distinct fingerprints")
    if forgotten:
        ids = sorted(forgotten)
        (left,) = _q("select count(*) from read_parquet(?) where list_contains(?, conv_id)", files, ids)[0]
        _, idx_files = live_files(os.path.join(out_root, "lsh_index"))
        left_idx = 0
        if idx_files:
            (left_idx,) = _q(
                "select count(*) from read_parquet(?) where list_contains(?, split_part(_k, '#', 1))",
                idx_files,
                ids,
            )[0]
        if left or left_idx:
            fails.append(f"forgotten convs still present: {left} table rows, {left_idx} index rows")
    if want_input_seq is not None:
        got = newest_summary_value(os.path.join(out_root, "table"), "input_seq_processed")
        if got != want_input_seq or (prev_seq is not None and got <= prev_seq):
            fails.append(f"input_seq_processed {got}, want {want_input_seq} (previous {prev_seq})")
    return fails

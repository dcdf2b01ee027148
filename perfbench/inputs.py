"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, GEN_VERSION): payloads
come from ``synth.payload_for`` and conversation lengths from
``synth.conv_lengths``, so the payload-kind mix and the length tail are
properties of the input, never switches in the program.  Generated tables
are cached under ``<checkout>/.perfbench_cache`` keyed by workload, seed and
generator version; generation is never inside a timed region or
``setup_s``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

# bump when any generator below changes its output
GEN_VERSION = 4

EXTRACT_TURNS = 12_000  # rows per extract call
EXTRACT_LONG = (2, 2_000)  # the heavy tail: 2 conversations of 2000 turns each
WARM_TURNS = 60  # the set-up warm-up extraction's input
HISTORY_TURNS = 500  # increment: history load, curated before timing
STEPS = 4  # increment: precomputed steps (a run uses a prefix)
STEP_NEW_TURNS = 90  # fresh turns per increment
STEP_COPIES = 12  # byte-identical + edited copies of history turns per increment
FORGET_EVERY = 2  # forget runs after every 2nd step
FORGET_CONVS = 2  # conversations forgotten per forget call

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _rows(prefix: str, seed: int, lengths, start_ci: int = 0):
    from table_ocr_spark import synth

    for ci, n in enumerate(lengths, start=start_ci):
        conv_id = f"{prefix}-{seed:04d}-{ci:08d}"
        for t in range(n):
            yield {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": synth.ROLES[t % 3],
                "text": synth.payload_for(conv_id, t)[1],
                "tool": "",
                "ts": _EPOCH + timedelta(seconds=ci * 86400 + t * 60),
            }


def _lengths_for(total: int, seed: int, max_long: int) -> list:
    """synth's heavy-tailed lengths, cut so they sum to exactly ``total``."""
    from table_ocr_spark import synth

    out, acc = [], 0
    for n in synth.conv_lengths(total, seed=seed, max_long=max_long):
        n = min(n, total - acc)
        out.append(n)
        acc += n
        if acc == total:
            return out
    raise AssertionError("conv_lengths ran out before reaching the turn total")


def _frame(rows):
    import pandas as pd

    df = pd.DataFrame(list(rows))
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def _write(df, path: str, n_files: int) -> None:
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    write_transcripts_parquet(df, path, n_files=n_files)


def _cached(cache: str, key: str, build) -> str:
    """Build ``key`` under ``cache`` once; a partial build is never reused."""
    final = os.path.join(cache, f"{key}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)


def warm_table(cache: str, seed: int) -> str:
    """A few short conversations for the set-up warm-up extraction (conv
    index 0 is skipped: synth puts the ~1 MB outlier there)."""

    def build(d):
        df = _frame(_rows("warm", seed, _lengths_for(WARM_TURNS, seed, 20), start_ci=1))
        _write(df, os.path.join(d, "t"), n_files=2)
        return {"rows": len(df)}

    return os.path.join(_cached(cache, f"warm-s{seed}", build), "t")


def extract_table(cache: str, seed: int) -> tuple:
    """The default payload mix at EXTRACT_TURNS rows: synth's short/medium
    conversation lengths, a fixed heavy tail (EXTRACT_LONG, placed at
    seeded positions) and synth's ~1 MB outlier turn (conv 0, turn 0).
    The tail is fixed rather than drawn so every seed salts the same
    amount of work."""

    def build(d):
        n_long, long_len = EXTRACT_LONG
        lengths = _lengths_for(EXTRACT_TURNS - n_long * long_len, seed, 200)
        rng = random.Random(seed)
        for _ in range(n_long):
            lengths.insert(rng.randint(1, len(lengths)), long_len)
        df = _frame(_rows("conv", seed, lengths))
        _write(df, os.path.join(d, "t"), n_files=8)
        return {"rows": len(df)}

    d = _cached(cache, f"extract-s{seed}", build)
    return os.path.join(d, "t"), meta(d)["rows"]


def _edit(text: str, rng: random.Random) -> str:
    """A light edit: one word replaced — a near duplicate, not an exact one."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = f"edited{rng.randrange(1000)}"
    return " ".join(words)


def increment_inputs(cache: str, seed: int) -> dict:
    """History load + STEPS increments + the forget schedule.

    Each increment holds fresh conversations plus copies of history turns
    under new conversation ids: half byte-identical (the exact
    cross-increment dedup drops them), half lightly edited (the LSH-index
    near-dedup may drop them).  Forget targets are history conversations,
    distinct across calls, chosen from the seed."""

    def build(d):
        import pandas as pd

        rng = random.Random(seed)
        hist = _frame(
            _rows("hist", seed, _lengths_for(HISTORY_TURNS, seed, 60), start_ci=1)
        )
        _write(hist, os.path.join(d, "history"), n_files=4)
        prose = hist[hist["text"].str.len() > 200].reset_index(drop=True)
        step_rows = []
        for s in range(STEPS):
            new = _frame(
                _rows(
                    f"inc{s:02d}",
                    seed,
                    _lengths_for(STEP_NEW_TURNS, seed * 100 + s, 20),
                    start_ci=1,
                )
            )
            picks = prose.iloc[rng.sample(range(len(prose)), STEP_COPIES)].copy()
            for j, (idx, row) in enumerate(picks.iterrows()):
                kind = "cpy" if j % 2 == 0 else "edt"
                picks.at[idx, "conv_id"] = f"{kind}{s:02d}-{seed:04d}-{j:08d}"
                picks.at[idx, "turn_idx"] = 0
                if kind == "edt":
                    picks.at[idx, "text"] = _edit(row["text"], rng)
            inc = pd.concat([new, picks], ignore_index=True)
            inc["turn_idx"] = inc["turn_idx"].astype("int32")
            _write(inc, os.path.join(d, f"step{s:02d}"), n_files=2)
            step_rows.append(len(inc))
        convs = sorted(hist["conv_id"].unique())
        n_forget = STEPS // FORGET_EVERY
        chosen = rng.sample(convs, FORGET_CONVS * n_forget)
        forget = [
            sorted(chosen[i * FORGET_CONVS : (i + 1) * FORGET_CONVS])
            for i in range(n_forget)
        ]
        return {"history_rows": len(hist), "step_rows": step_rows, "forget": forget}

    d = _cached(cache, f"increment-s{seed}", build)
    m = meta(d)
    m["history"] = os.path.join(d, "history")
    m["steps"] = [os.path.join(d, f"step{s:02d}") for s in range(STEPS)]
    return m

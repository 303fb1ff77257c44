"""The F1 token recipe in closed form: input files and the correctness oracle.

The recipe (FIXTURES.md F1, constants from ``bistro_spark.sources.tokens``)
is a pure function of the row id ``i``:

    L_i        = 1 + (i * MIX) % 512
    tokens[j]  = (i * TOK_A + j * TOK_B) % VOCAB
    source     = web|code|books|wiki for bucket (i * MIX) % 15 in
                 [0,8) | [8,12) | [12,14) | [14,15)      (8:4:2:1 skew)
    event_time = 2026-01-01T00:00:00Z + i * 250 ms

The benchmark seed moves the row-id range (``seed_offset``), so content
changes while the length distribution and the source skew stay the same.
Files are written here with numpy + pyarrow rather than through Spark:
Spark's parquet writer stages these rows at about half the rate the native
pipeline drains them, and ``token_table_fast`` cannot start at an offset.
``selftest.py`` checks this writer element-for-element against
``token_table_fast``.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bistro_spark.sources.tokens import MAX_LEN, MIX, SOURCES, TOK_A, TOK_B, VOCAB

EPOCH_US = int(np.datetime64("2026-01-01T00:00:00", "us").astype(np.int64))
ROW_US = 250_000  # event-time step per row id
# Seeds map onto disjoint id ranges below 3.0e9, where i * MIX still fits
# in a signed 64-bit integer (Spark runs ANSI arithmetic and would raise).
SEED_STRIDE = 3_000_017
SEED_SLOTS = 1000
# link-target weights: the ``sources_dim`` rows in bistro_spark/sources/tokens.py
WEIGHTS = {"web": 1.0, "code": 0.5, "books": 2.0, "wiki": 1.5}


def seed_offset(seed: int) -> int:
    return (seed % SEED_SLOTS) * SEED_STRIDE


def lengths(ids: np.ndarray) -> np.ndarray:
    return (ids * MIX) % MAX_LEN + 1


def source_index(ids: np.ndarray) -> np.ndarray:
    bucket = (ids * MIX) % 15
    return np.select([bucket < 8, bucket < 12, bucket < 14], [0, 1, 2], default=3)


def arrow_table(lo: int, hi: int) -> pa.Table:
    """Rows ``lo <= i < hi`` in the TOKEN_SCHEMA column order."""
    ids = np.arange(lo, hi, dtype=np.int64)
    length = lengths(ids)
    offs = np.concatenate(([0], np.cumsum(length)))
    row_i = np.repeat(ids, length)
    j = np.arange(offs[-1], dtype=np.int64) - np.repeat(offs[:-1], length)
    vals = ((row_i * TOK_A + j * TOK_B) % VOCAB).astype(np.int32)
    digits = pc.utf8_lpad(pa.array(ids).cast(pa.string()), width=8, padding="0")
    source = pa.DictionaryArray.from_arrays(
        pa.array(source_index(ids).astype(np.int32)), pa.array(SOURCES)
    ).cast(pa.string())
    return pa.table(
        {
            "doc_id": pc.binary_join_element_wise("d", digits, ""),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offs.astype(np.int32)), pa.array(vals)
            ),
            "n_tok": pa.array(length.astype(np.int32)),
            "source": source,
            "event_time": pa.array(
                EPOCH_US + ids * ROW_US, pa.timestamp("us", tz="UTC")
            ),
            "batch_ofs": pa.array(ids),
        }
    )


def write_file(path: str, lo: int, hi: int) -> None:
    """Write rows [lo, hi) as one parquet file (4 row groups, so one file
    can still split across tasks)."""
    pq.write_table(arrow_table(lo, hi), path, row_group_size=max(1, (hi - lo + 3) // 4))


# -- oracle -----------------------------------------------------------------


def window_truth(lo: int, hi: int, window_s: int):
    """Per (window_start_us, src): (n_seq, sum_tok, sum_weighted) over rows
    [lo, hi) for a tumbling event-time window of ``window_s`` seconds."""
    ids = np.arange(lo, hi, dtype=np.int64)
    ts = EPOCH_US + ids * ROW_US
    win = ts - ts % (window_s * 1_000_000)
    src = source_index(ids)
    length = lengths(ids)
    w = np.array([WEIGHTS[s] for s in SOURCES])
    key = win * 4 + src
    uniq, inv = np.unique(key, return_inverse=True)
    n = np.bincount(inv)
    tok = np.bincount(inv, weights=length)
    wtok = np.bincount(inv, weights=length * w[src])
    return {
        (int(k // 4), SOURCES[k % 4]): (int(a), int(b), float(c))
        for k, a, b, c in zip(uniq, n, tok, wtok)
    }


def retained_truth(lo: int, hi: int):
    """Per src: (n_seq, sum_tok, sum_weighted) over rows [lo, hi)."""
    ids = np.arange(lo, hi, dtype=np.int64)
    src = source_index(ids)
    length = lengths(ids)
    out = {}
    for s_i, s in enumerate(SOURCES):
        m = src == s_i
        if m.any():
            out[s] = (int(m.sum()), int(length[m].sum()), float((length[m] * WEIGHTS[s]).sum()))
    return out


def check_windows(rows, truth, watermark_us: int, window_s: int) -> list[str]:
    """Committed sink rows must hold exactly the windows the watermark
    closed, each once, each equal to the closed form.

    ``rows``: (window_start_us, window_end_us, src, n_seq, sum_tok,
    sum_weighted) tuples read back from every committed sink batch."""
    errors = []
    seen = Counter((r[0], r[2]) for r in rows)
    dup = [k for k, c in seen.items() if c > 1]
    if dup:
        errors.append(f"{len(dup)} (window, src) cells committed more than once, e.g. {dup[0]}")
    expect = {
        k: v for k, v in truth.items() if k[0] + window_s * 1_000_000 <= watermark_us
    }
    got = {(r[0], r[2]): (r[3], r[4], r[5]) for r in rows}
    missing = expect.keys() - got.keys()
    extra = got.keys() - expect.keys()
    wrong = [k for k in expect.keys() & got.keys() if tuple(got[k]) != expect[k]]
    if missing:
        errors.append(f"{len(missing)} closed windows never committed, e.g. {min(missing)}")
    if extra:
        errors.append(f"{len(extra)} committed cells not closed by the watermark, e.g. {min(extra)}")
    if wrong:
        k = min(wrong)
        errors.append(f"{len(wrong)} cells differ from the closed form, e.g. {k}: {got[k]} != {expect[k]}")
    if not expect:
        errors.append("the watermark closed no window")
    return errors


def check_retained(rows, truth) -> list[str]:
    """``rows``: (src, n_seq, sum_tok, sum_weighted) from ``result()``."""
    got = {r[0]: (r[1], r[2], r[3]) for r in rows}
    if len(got) != len(rows):
        return ["result() returned a source more than once"]
    if got != truth:
        return [f"result() {sorted(got.items())} != closed form {sorted(truth.items())}"]
    return []

"""Seeded inputs for the benchmark: webpages corpora and query streams.

Corpora come from the engine's stateless webpages generator
(``sources/webpages.py``): every row is a pure function of its row index, so
the seed picks a disjoint window of row indices and the same seed always
yields the same pages. The generator already gives Zipfian text, 30 hot
"stopword" terms near 40% document frequency and 2% re-crawled duplicate
urls (every 50th row repeats the previous url with an older timestamp).

Query streams are drawn from an index's own term dictionary and are
independent of the engine: the engine only ever sees the query strings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

from flume_elasticsearch_2_spark.sources import webpages

# Row windows of different seeds never overlap (a corpus stays far below
# this many rows), so two seeds share no page.
SEED_STRIDE = 1_000_000
# The generator stamps row i at EPOCH + i seconds, and pandas holds
# timestamps only up to the year 2262, so row indices stay below about 7e9:
# a seed picks one of N_WINDOWS windows. Seeds 0 to N_WINDOWS - 1 get
# windows of their own; any other integer, large or negative, folds onto
# one of them (seed mod N_WINDOWS).
N_WINDOWS = 7_000
# The query traffic is synthetic. No query log was at hand, so every number
# below is an assumption, not a measurement of real traffic: the term-count
# mix, the df bands and their shares, the AND and absent-term rates and the
# popularity skew. They set the cost mix behind the serve latencies.
N_TERMS_P = (0.30, 0.45, 0.25)  # 1, 2 or 3 terms per query
BAND_P = {"hot": 0.25, "mid": 0.50, "rare": 0.25}
N_HOT_BAND = 30  # the generator's stopword terms
N_MID_BAND = 1000
AND_P = 0.30
ABSENT_P = 0.03
POOL_ZIPF_S = 0.8
# one irrational step per query attribute: rank r takes frac((r + 1) * step)
# as its draw, which spreads every attribute evenly over any run of ranks
_STEPS = np.sqrt(np.array([2.0, 3.0, 5.0, 6.0, 7.0, 10.0, 11.0, 13.0, 14.0, 15.0])) % 1.0
STREAM_BLOCK = 100  # queries per systematically sampled block of a stream


def row_window(seed: int, lo: int, hi: int) -> np.ndarray:
    """Absolute generator row indices ``[lo, hi)`` of the seed's window."""
    base = (seed % N_WINDOWS) * SEED_STRIDE
    return np.arange(base + lo, base + hi, dtype=np.int64)


def rng(seed: int) -> np.random.Generator:
    """The seed's random stream (query draws, re-crawl picks); any integer,
    negative too."""
    return np.random.default_rng(seed % 2**64)


def pages(seed: int, lo: int, hi: int) -> pd.DataFrame:
    """Webpages rows ``[lo, hi)`` of the seed's window (url, warc_ts, html,
    text, lang), duplicate-url rows included."""
    return webpages._gen_rows(row_window(seed, lo, hi))


def n_duplicate_rows(seed: int, lo: int, hi: int) -> int:
    """Rows of the window that repeat the previous row's url — the docs the
    pipeline's dedup stage must drop."""
    idx = row_window(seed, lo, hi)
    return int(((idx % 50 == 49) & (idx > 0) & (idx > idx[0])).sum())


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Parquet that Spark reads back with a microsecond timestamp column."""
    pdf.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True)


@dataclass(frozen=True)
class Query:
    text: str
    mode: str  # "or" | "and"


def term_bands(index_dir: str) -> dict[str, list[str]]:
    """Split an index's term dictionary by document frequency into hot (the
    stopwords), mid and rare bands, each sorted for a seed-stable draw."""
    tbl = pads.dataset(f"{index_dir}/terms", format="parquet").to_table(columns=["term", "df"])
    terms = tbl.to_pandas().sort_values(["df", "term"], ascending=[False, True])
    ranked = terms["term"].tolist()
    return {
        "hot": ranked[:N_HOT_BAND],
        "mid": ranked[N_HOT_BAND : N_HOT_BAND + N_MID_BAND],
        "rare": ranked[N_HOT_BAND + N_MID_BAND :],
    }


def _inverse_cdf(p: tuple[float, ...], u: float) -> int:
    return min(int(np.searchsorted(np.cumsum(p), u, side="right")), len(p) - 1)


def query_pool(bands: dict[str, list[str]], size: int) -> list[Query]:
    """``size`` queries, in popularity order, mixing df bands, 1-3 terms, OR
    and AND, and a few terms absent from the index.

    Everything about a query follows from its popularity rank through evenly
    spread draws: its shape (term count, band of each term, mode, an absent
    term) and each term's df position inside its band. So the popular
    queries cost about the same on every seed's index, and the seed varies
    the corpus and the order of the stream. With random shapes and terms,
    whichever queries happened to top the ranking moved mean latency by a
    fifth from seed to seed."""
    names = list(BAND_P)
    band_p = tuple(BAND_P[b] for b in names)
    pool = []
    for r in range(size):
        u = ((r + 1) * _STEPS) % 1.0
        n_terms = _inverse_cdf(N_TERMS_P, u[0]) + 1
        terms = []
        for j in range(n_terms):
            band = bands[names[_inverse_cdf(band_p, u[1 + j])]]
            terms.append(band[int(u[6 + j] * len(band))])
        if u[4] < ABSENT_P:
            terms[int(u[9] * n_terms)] = f"absent{r}x"
        mode = "and" if n_terms > 1 and u[5] < AND_P else "or"
        pool.append(Query(" ".join(terms), mode))
    return pool


def query_stream(pool: list[Query], n: int, rng: np.random.Generator) -> list[Query]:
    """``n`` queries drawn from ``pool`` with Zipfian popularity (pool order
    is popularity rank), so popular queries and terms repeat.

    The stream is made of blocks of ``STREAM_BLOCK`` queries, each drawn by
    systematic sampling (one seeded offset, evenly spaced points on the
    popularity distribution) and then shuffled: every block holds each pool
    query its expected number of times, rounded up or down. So the mix of a
    run does not depend on the seed, and neither does the tail latency it
    sets, where independent draws would let a short run draw more or fewer
    of the costly queries."""
    w = np.arange(1, len(pool) + 1, dtype=np.float64) ** -POOL_ZIPF_S
    cdf = np.cumsum(w / w.sum())
    out: list[Query] = []
    while len(out) < n:
        points = (rng.random() + np.arange(STREAM_BLOCK)) / STREAM_BLOCK
        picks = np.minimum(np.searchsorted(cdf, points, side="right"), len(pool) - 1)
        rng.shuffle(picks)
        out.extend(pool[int(i)] for i in picks)
    return out[:n]

"""Seeded request generators for the workloads.

Pure Python (no Spark import), so the determinism self-check can run
without an engine. The engine only ever sees the SQL text produced
here; the seed stays on the benchmark side.

- ``shared_scan``: per-client streams of aggregations over the CSV
  lineitem replica (view ``lineitem_csv``): same-signature GROUP BYs
  with varied predicates (MRShare candidates), different-signature
  aggregates (which the cache-admission rule weighs) and a few
  selective scans.
- ``corpus``: a fixed list of registered operator queries, one per
  operator module, each pass over it in a seeded order.
"""

from __future__ import annotations

import itertools
import random
from statistics import median

CSV_VIEW = "lineitem_csv"

# -- shared_scan ---------------------------------------------------------

# Every shared_scan aggregate filters and sums one numeric CSV column
# (parse cost per row alike for all four) — requests differ in which
# column, the grouping and seeded literals — so a seed changes the
# query texts, not how much work a window holds. Sums stay DOUBLE: the
# oracle compares floats to a relative tolerance, and no result is
# rounded.
_NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _numeric_predicate(rng: random.Random, col: str) -> str:
    """A seeded threshold, drawn from thousands of values so that texts
    almost never repeat: a repeat is a result-cache hit, which would
    take a job out of its window and make that round cheaper."""
    if col == "l_quantity":
        return f"l_quantity >= {rng.randrange(2000, 50000) / 1000:.3f}"
    if col == "l_extendedprice":
        return f"l_extendedprice > {rng.randrange(1000, 100000)}"
    if col == "l_discount":
        return f"l_discount > {rng.randrange(0, 9500) / 100000:.5f}"
    return f"l_tax < {rng.randrange(500, 8000) / 100000:.5f}"


def _same_sig_query(rng: random.Random) -> str:
    """GROUP BY (returnflag, linestatus): the signature MRShare merges."""
    col = rng.choice(_NUMERIC)
    return (
        f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum({col}) AS s"
        f" FROM {CSV_VIEW} WHERE {_numeric_predicate(rng, col)}"
        " GROUP BY l_returnflag, l_linestatus"
    )


def _other_sig_query(rng: random.Random) -> str:
    """A different-signature aggregate: grouped by something other
    than (returnflag, linestatus), so MRShare declines it and the
    cache rewrite is consulted. Every request reads at most three of
    the twelve columns, which keeps any window of four under the
    admission bar (Σ read fractions ≥ 1.2) even when nothing merges:
    an admitted replica is served from memory for the rest of the run,
    its scans lose their fingerprints, and the merges this workload
    exists to measure stop."""
    key = rng.choice(["l_linenumber", "l_returnflag", "l_linestatus"])
    col = rng.choice(_NUMERIC)
    return (
        f"SELECT {key}, count(*) AS n, sum({col}) AS s"
        f" FROM {CSV_VIEW} WHERE {_numeric_predicate(rng, col)}"
        f" GROUP BY {key} ORDER BY {key}"
    )


# stream seed of the set-up round that warms the gateway and the CSV
# scan path before the timed window
WARM_SEED = "warm-up"


def shared_scan_stream(seed: int | str, client: int, n_clients: int):
    """Endless per-client request stream. All clients but the last
    send same-signature GROUP BYs with seeded predicates; the last
    sends two different-signature aggregates, then a selective scan,
    and so on. Fixed roles and a fixed cycle keep every window's mix
    alike — with 4 clients, 75% of requests are MRShare candidates —
    so the seed moves literals and shapes, not the amount of work."""
    rng = random.Random(f"shared_scan/{seed}/{client}")
    for k in itertools.count():
        if client < n_clients - 1:
            yield _same_sig_query(rng)
        elif k % 3 < 2:
            yield _other_sig_query(rng)
        else:
            k = rng.randrange(0, 149_000)
            yield (
                f"SELECT l_orderkey, l_quantity FROM {CSV_VIEW}"
                f" WHERE l_orderkey BETWEEN {k} AND {k + 4}"
            )


# -- corpus --------------------------------------------------------------

# One registered query per operator module, each with a DuckDB oracle
# (operators.registry.ORACLES); chosen among the cheaper queries of
# each module so a whole pass fits several times in one run.
CORPUS = [
    ("tpch", "tpch_q6_forecast_revenue"),
    ("dedup", "dedup_exact"),
    ("similarity", "sim_topk_bruteforce"),
    ("events_windows", "events_tumbling_hour"),
    ("text_analysis", "text_token_count"),
    ("joins", "join_inner_4way"),
    ("windows", "win_running_sum"),
]


def corpus_stream(seed: int | str):
    """Endless query names: whole passes over the fixed list, each pass
    in its own seeded order, so no one order (and what a query leaves
    behind for the next) weighs on a run."""
    rng = random.Random(f"corpus/{seed}")
    while True:
        names = [q for _m, q in CORPUS]
        rng.shuffle(names)
        yield from names


def tail_stat(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it
    (the (beyond+1)-th largest value), but never below the median: with
    fewer than 2 * beyond + 1 samples it is the median. Returns the
    value, its percentile and how many samples lie above it."""
    s = sorted(values)
    if len(s) < 2 * beyond + 1:
        return median(s), 50.0, len(s) // 2
    return s[-(beyond + 1)], 100.0 * (1 - beyond / len(s)), beyond

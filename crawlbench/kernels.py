"""Micro-timings of the public numpy/pandas kernels in ``functions``, on a
fixed sample of the run's own inputs, in the driver process (no Spark)."""

from __future__ import annotations

import time

import pandas as pd

from subdomain_crawler_spark.functions import core, text

SAMPLE_ROWS = 2000
BUDGET_S = 0.25  # timing budget of one kernel


def _rows_per_s(fn, arg: pd.Series) -> float:
    """Median rows/s over repeated calls within BUDGET_S (at least 3)."""
    fn(arg)  # first call builds lazy tables (PSL, regexes)
    rates = []
    t_end = time.perf_counter() + BUDGET_S
    while len(rates) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn(arg)
        rates.append(len(arg) / (time.perf_counter() - t0))
    rates.sort()
    return rates[len(rates) // 2]


def time_kernels(hosts: pd.Series, roots: pd.Series,
                 pages: pd.Series) -> dict[str, float]:
    """``hosts``/``roots``/``pages`` are samples of the workload's hosts,
    registered domains and page texts; each is cut to SAMPLE_ROWS rows."""
    h = hosts.iloc[:SAMPLE_ROWS].reset_index(drop=True)
    r = roots.iloc[:SAMPLE_ROWS].reset_index(drop=True)
    p = pages.iloc[:SAMPLE_ROWS].reset_index(drop=True)
    return {
        "kernel.expand_domains_rows_per_s": _rows_per_s(core.expand_domains, r),
        "kernel.get_root_rows_per_s": _rows_per_s(core.get_root, h),
        "kernel.extract_hosts_rows_per_s": _rows_per_s(core.extract_hosts, p),
        "kernel.extract_title_rows_per_s": _rows_per_s(core.extract_title, p),
        "kernel.get_depth_rows_per_s": _rows_per_s(core.get_depth, h),
        "kernel.fingerprint64_rows_per_s": _rows_per_s(text.fingerprint64, p),
        "kernel.minhash_rows_per_s": _rows_per_s(text.minhash_signatures, p),
    }

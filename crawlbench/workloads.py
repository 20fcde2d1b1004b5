"""The benchmark's workloads. Each drives the engine only through its public
API (``CrawlEngine(...)``, ``.run(progress=…)``, ``.dedup_documents``,
``.dedup_images``, ``.quality_filter_documents``) on generated tables.

A workload has ``setup`` (generate inputs, build the expected outputs),
``rep`` (one repetition = one operation; returns a ``Rep``), ``check`` (the
output check of one repetition, raising ``CheckFailed``) and ``layers`` (the
per-layer numbers a traced run adds after its timed phase).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import gen
from eventlog import Span

from subdomain_crawler_spark.config import CrawlConfig
from subdomain_crawler_spark.sources import fixtures


class CheckFailed(Exception):
    """A repetition's output differs from the expected output."""


@dataclass
class Rep:
    items: int
    wall: float
    spans: list[Span] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    workdir: str = ""


def _now_ms() -> float:
    return time.time() * 1000.0


def _read_table(workdir: str, table: str) -> pd.DataFrame:
    """All committed round files of one snapshot table, read without Spark
    (files one by one, so the ``round=N`` directories add no column)."""
    files = sorted(glob.glob(os.path.join(workdir, table, "round=*", "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def results_hash(df: pd.DataFrame) -> str:
    """Order-independent content hash of a results table."""
    cols = ["round", "domain", "ips", "subdomains", "status", "status_code",
            "title", "content_length", "error"]
    df = df[cols].sort_values(["round", "domain"]).reset_index(drop=True)
    rows = []
    for r in df.itertuples(index=False):
        err = r.error if isinstance(r.error, str) else None
        rows.append([int(r.round), r.domain, list(r.ips), list(r.subdomains),
                     r.status, int(r.status_code), r.title,
                     int(r.content_length), err])
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def _dir_files(workdir: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under a directory."""
    n = size = 0
    for dp, _, fs in os.walk(workdir):
        for f in fs:
            size += os.path.getsize(os.path.join(dp, f))
            n += f.endswith(".parquet")
    return n, size


# each input table is a directory of 4 parquet files, so scans get several
# input splits
INPUT_FILES = dict.fromkeys(("corpus", "dns", "robots", "docs", "images"), 4)


def _timed(fn) -> float:
    """Median wall of three calls."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- crawl ---------------------------------------------------------------------

ROUND_KEYS = ("tasks_processed", "tasks_enqueued", "http_requests",
              "dns_requests", "success_count", "error_count",
              "unique_subdomains")


class Crawl:
    """SLD-expanding, redirect-following, robots-budgeted crawl, timed over
    its first round: the ~134× seed fan-out of 1,200 roots (~159k
    fetches), the fetch join, the Arrow extraction over long captions, the
    budget split and the five appends plus the manifest commit. A
    repetition is a new engine crawling the seeds for ROUNDS rounds into a
    fresh workdir."""

    name = "crawl"
    # one big round: per-row work is about a quarter of its ~8.6 s on a
    # 4-core box (an 80-root round 0 takes ~6.6 s, a 2,400-root one ~13 s,
    # about half per-row work), and a run must fit the cold pass and the
    # timed repetitions in about a minute
    ROUNDS = 1
    # the untimed warm-up is one crawl of this size: the cold pass costs
    # about the same at 12 roots as at 1,200 (JIT, class loading, code
    # generation); the first full-size repetition after it is usually within
    # ~10 % of the next, where a full-size cold pass leaves it ~20 % slow
    WARMUP_SIZES = {"n_roots": 12}

    def __init__(self, spark, seed: int, input_dir: str):
        self.spark, self.seed, self.input_dir = spark, seed, input_dir
        # a 120 s politeness window: crawl_delay=1 roots get 120 fetches a
        # round, so their ~134-host seed fan-out drains in two rounds
        self.cfg = CrawlConfig(round_window_sec=120)
        self.sizes: dict = {}  # defaults; the warm-up and tests shrink them

    def setup(self) -> dict:
        from subdomain_crawler_spark.plans.reference_sim import \
            ReferenceSimulator

        web = gen.crawl_web(self.seed, **self.sizes)
        fixtures.write_parquet(
            {k: web[k] for k in ("corpus", "dns", "robots")},
            self.input_dir, n_files=INPUT_FILES)
        self.seeds_path = os.path.join(self.input_dir, "seeds.txt")
        with open(self.seeds_path, "w") as f:
            f.writelines(s + "\n" for s in web["seeds"])
        rd = self.spark.read
        self.corpus = rd.parquet(os.path.join(self.input_dir, "corpus.parquet"))
        self.dns = rd.parquet(os.path.join(self.input_dir, "dns.parquet"))
        self.robots = rd.parquet(os.path.join(self.input_dir, "robots.parquet"))
        sim = ReferenceSimulator(web["corpus"], web["dns"], self.cfg,
                                 web["robots"]).run(list(web["seeds"]),
                                                    max_rounds=self.ROUNDS)
        self.want_rounds = sim.metrics[["round", *ROUND_KEYS]] \
            .astype(int).to_dict("records")
        self.want_hash = results_hash(sim.results)
        self.items = int(sim.metrics["dns_requests"].sum())
        self.kernel_inputs = (web["corpus"]["host"].sample(
                                  frac=1.0, random_state=self.seed),
                              web["seeds"],
                              web["corpus"]["caption"].sample(
                                  frac=1.0, random_state=self.seed))
        return {"sizes": web["sizes"], "shares": web["shares"],
                "items_per_rep": self.items,
                "rounds": len(self.want_rounds)}

    def rep(self, workdir: str, rep_no: int) -> Rep:
        from subdomain_crawler_spark.plans.crawl import CrawlEngine

        stats, done_ms = [], []

        def progress(st):
            done_ms.append(_now_ms())
            stats.append(st)

        t0 = _now_ms()
        eng = CrawlEngine(self.spark, self.cfg, workdir, self.corpus,
                          self.dns, self.robots)
        t1 = _now_ms()
        eng.run(self.spark.read.text(self.seeds_path),
                max_rounds=self.ROUNDS, progress=progress)
        t2 = _now_ms()
        # contiguous spans: a round runs from the previous round's progress
        # callback to its own; round 0 starts RoundStats.wall_sec before its
        # callback
        r0 = done_ms[0] - stats[0].wall_sec * 1000
        bounds = [r0] + done_ms
        spans = [Span("engine_init", t0, t1, rep_no),
                 Span("start", t1, r0, rep_no),
                 Span("tail", done_ms[-1], t2, rep_no)]
        spans += [Span(f"round{st.round}", bounds[i], done_ms[i], rep_no)
                  for i, st in enumerate(stats)]
        items = sum(s.dns_requests for s in stats)
        walls = [s.wall_sec for s in stats]
        info = {
            "engine_init_s": (t1 - t0) / 1000, "start_s": (r0 - t1) / 1000,
            "round_walls": walls,
            "success": sum(s.success_count for s in stats),
            "stats": [{"round": s.round, **{k: getattr(s, k)
                                            for k in ROUND_KEYS}}
                      for s in stats],
        }
        return Rep(items, (t2 - t0) / 1000, spans, info, workdir)

    def check(self, rep: Rep, state: dict) -> None:
        got = rep.info["stats"]
        if got != self.want_rounds:
            raise CheckFailed(f"per-round counters differ from the reference "
                              f"simulator: {got} != {self.want_rounds}")
        h = results_hash(_read_table(rep.workdir, "results"))
        if h != self.want_hash:
            raise CheckFailed("results table differs from the reference "
                              "simulator's")

    def layers(self, reps: list[Rep], jobs_in_rounds: float) -> dict:
        from subdomain_crawler_spark.operators import politeness as pol
        from subdomain_crawler_spark.plans.crawl import CrawlEngine
        from subdomain_crawler_spark.sources.tableio import ParquetSnapshotIO

        med = lambda k: statistics.median(r.info[k] for r in reps)
        walls = [w for r in reps for w in r.info["round_walls"]]
        rounds = len(reps[0].info["round_walls"])
        last = reps[-1]
        files, size = _dir_files(last.workdir)
        accounted = statistics.median(
            (r.info["engine_init_s"] + r.info["start_s"]
             + sum(r.info["round_walls"])) / r.wall for r in reps)
        io = ParquetSnapshotIO(self.spark, last.workdir)
        f0 = io.read_round("frontier", 0).persist()
        n0 = f0.count()
        sched, deferred = pol.apply_budgets(f0, self.robots, self.cfg)
        n_def = deferred.count()
        budgets_s = _timed(lambda: (_noop(sched), _noop(deferred)))
        f0.unpersist()
        seen_s = _timed(lambda: _noop(io.read_upto("seen", rounds - 1)))

        def resume():
            # what a resuming run() does before its first round: a new
            # engine on the workdir, then the next frontier read and counted
            eng = CrawlEngine(self.spark, self.cfg, last.workdir,
                              self.corpus, self.dns, self.robots)
            io.read_round("frontier", eng.resume_round()).count()
        resume_s = _timed(resume)
        return {
            "crawl.engine_init_s": med("engine_init_s"),
            "crawl.start_s": med("start_s"),
            "crawl.round0_s": statistics.median(
                r.info["round_walls"][0] for r in reps),
            "crawl.fetch_hit_frac": last.info["success"] / last.items,
            "crawl.rounds": rounds,
            "crawl.round_p50_s": statistics.median(walls),
            "crawl.jobs_per_round": jobs_in_rounds / (rounds * len(reps)),
            "crawl.resume_s": resume_s,
            "crawl.wall_accounted_frac": accounted,
            "politeness.apply_budgets_s": budgets_s,
            "politeness.deferred_frac": n_def / max(n0, 1),
            "tableio.files_written": files,
            "tableio.read_upto_seen_s": seen_s,
            "tableio.bytes_written_per_item": size / last.items,
        }


# -- page dedup ----------------------------------------------------------------


class PageDedup:
    """The post-crawl content pass: document near-dup (MinHash bands +
    components), image near-dup (MIH bands + components) and the quality
    gate, on a page corpus with planted duplicates and hot buckets. Both
    pair graphs stay below the components operator's 250k-pair driver
    threshold: its distributed path costs ~10 s a repetition on a 4-core
    box, more than a run can afford. It runs no crawl layer."""

    name = "page_dedup"
    WARMUP_SIZES = {"n_docs": 300, "words": 30, "hot_docs": 60,
                    "exact_sets": 10, "n_images": 400, "blank_images": 20,
                    "img_dup_sets": 10}

    def __init__(self, spark, seed: int, input_dir: str):
        self.spark, self.seed, self.input_dir = spark, seed, input_dir
        self.cfg = CrawlConfig(honor_robots=False)
        self.sizes: dict = {}  # defaults; the warm-up and tests shrink them

    def setup(self) -> dict:
        pages = gen.page_corpus(self.seed, **self.sizes)
        fixtures.write_parquet({"docs": pages["docs"],
                                "images": pages["images"]},
                               self.input_dir, n_files=INPUT_FILES)
        rd = self.spark.read
        self.docs = rd.parquet(os.path.join(self.input_dir, "docs.parquet"))
        self.images = rd.parquet(os.path.join(self.input_dir,
                                              "images.parquet"))
        self.exact_doc_sets = pages["exact_doc_sets"]
        self.exact_img_sets = pages["exact_img_sets"]
        self.n_docs, self.n_images = len(pages["docs"]), len(pages["images"])
        self.items = self.n_docs + self.n_images
        self.hot_frac = ((pages["shares"]["hot_bucket_docs"]
                          * len(pages["docs"])
                          + pages["shares"]["hot_bucket_images"]
                          * len(pages["images"])) / self.items)
        # the engine's crawl inputs are unused by the dedup calls
        self.corpus = self.spark.createDataFrame(
            [("example.com", ["https"], 200, "")],
            "host string, proto_ok array<string>, status_code int, "
            "caption string")
        self.dns = self.spark.createDataFrame(
            [("example.com", ["10.0.0.1"], 0)],
            "host string, ips array<string>, rcode int")
        docs = pages["docs"].sample(frac=1.0, random_state=self.seed)
        hosts = docs["host"]
        self.kernel_inputs = (hosts, hosts.str.split(".", n=2).str[2],
                              docs["text"])
        return {"sizes": pages["sizes"], "shares": pages["shares"],
                "items_per_rep": self.items}

    def rep(self, workdir: str, rep_no: int) -> Rep:
        from subdomain_crawler_spark.plans.crawl import CrawlEngine

        t0 = _now_ms()
        eng = CrawlEngine(self.spark, self.cfg, workdir, self.corpus, self.dns)
        t1 = _now_ms()
        doc_groups = eng.dedup_documents(
            self.docs.select("doc_id", "text")).toPandas()
        t2 = _now_ms()
        img_groups = eng.dedup_images(self.images).toPandas()
        t3 = _now_ms()
        reasons = eng.quality_filter_documents(self.docs)
        t4 = _now_ms()
        spans = [Span("engine_init", t0, t1, rep_no),
                 Span("dedup_documents", t1, t2, rep_no),
                 Span("dedup_images", t2, t3, rep_no),
                 Span("quality_filter", t3, t4, rep_no)]
        info = {"documents_s": (t2 - t1) / 1000, "images_s": (t3 - t2) / 1000,
                "quality_filter_s": (t4 - t3) / 1000,
                "doc_groups": doc_groups, "img_groups": img_groups,
                "reasons": reasons}
        return Rep(self.items, (t4 - t0) / 1000, spans, info, workdir)

    def check(self, rep: Rep, state: dict) -> None:
        doc = rep.info["doc_groups"].set_index("doc_id")["group_id"]
        img = rep.info["img_groups"].set_index("image_id")["group_id"]
        for ids in self.exact_doc_sets:
            if doc.loc[ids].nunique() != 1:
                raise CheckFailed(f"planted duplicate docs {ids} split "
                                  "across groups")
        for ids in self.exact_img_sets:
            if img.loc[ids].nunique() != 1:
                raise CheckFailed(f"planted duplicate images {ids} split "
                                  "across groups")
        if (len(doc), len(img)) != (self.n_docs, self.n_images):
            raise CheckFailed("not every document and image got a group")
        metrics = _read_table(rep.workdir, "dedup_metrics")
        summary = {"doc_rows": len(doc), "doc_groups": int(doc.nunique()),
                   "img_rows": len(img), "img_groups": int(img.nunique()),
                   "reasons": rep.info["reasons"],
                   "dedup_metrics": metrics.astype(int).to_dict("records")}
        rep.info["summary"] = summary
        first = state.setdefault("summary", summary)
        if summary != first:
            raise CheckFailed(f"output differs from the first repetition: "
                              f"{summary} != {first}")

    def layers(self, reps: list[Rep], jobs_in_rounds: float) -> dict:
        med = lambda k: statistics.median(r.info[k] for r in reps)
        s = reps[-1].info["summary"]
        m = s["dedup_metrics"][0]
        return {
            "dedup.documents_s": med("documents_s"),
            "dedup.images_s": med("images_s"),
            "dedup.quality_filter_s": med("quality_filter_s"),
            "dedup.doc_groups": s["doc_groups"],
            "dedup.img_groups": s["img_groups"],
            "dedup.star_edges": m["star_edges"],
            "dedup.capped_buckets": m["capped_buckets"],
            "dedup.hot_rows_frac": self.hot_frac,
            "tableio.files_written": _dir_files(reps[-1].workdir)[0],
            "tableio.bytes_written_per_item":
                _dir_files(reps[-1].workdir)[1] / reps[-1].items,
        }



WORKLOADS = {c.name: c for c in (Crawl, PageDedup)}

"""Per-layer metrics for the traced run, measured from outside the
program.

The benchmark labels every public call it makes with a Spark job group
(``Spans``) and records the call's wall-clock interval.  The traced
session writes a Spark event log; after the session stops, the log is
parsed with ``tools/stage_profile.parse_eventlog`` plus one extra pass
for the two fields that parser does not keep (per-task durations for the
tail ratio, shuffle bytes written).  A job belongs to the span in which
it was submitted: the crawl's snapshot commit writes its tables from
library threads, which do not inherit the caller's job group, so the
interval is what attributes those jobs to their ``run_wave()``.

Layers and their metric names (units in ``PER_LAYER``):

* ``selector``  — the pure-Python selector core on the driver, no Spark;
* ``functions`` — the Arrow/pandas UDF boundary and URL canonicalisation;
* ``operators`` — one operator call forced with a noop write;
* ``plans``     — the crawl loop, one ``run_wave()`` per span;
* ``sources``   — snapshot commit / read-back and synthetic generation.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from workloads import noop

CRAWL_OPS = ("politeness_split", "shard_gate", "bloom_update")
DEDUP_OPS = (
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "remove_repeated_ngrams",
    "decontaminate",
)
PAIR_OPS = ("minhash_lsh_pairs", "simhash_pairs")
EXTRACTORS = (
    "css_getall",
    "xpath_getall",
    "re_extract",
    "jmespath_getall",
    "extract_struct",
    "extract_links",
    "main_text",
    "html_to_markdown",
)
PROBE_WAVES = 2
SELECTOR_PAGES = 200
UDF_ROWS = 400
CSS_QUERIES = (
    "h1.title::text",
    "a::attr(href)",
    "img::attr(alt)",
    "div.page::attr(id)",
    "ul.links > li > a.out",
    "p.caption::text",
    "li:nth-child(2n+1) a",
    "div.page[id^=page] h1",
)


def _per_layer_units() -> dict[str, str]:
    units = {
        "selector.parse_ms_per_page": "ms",
        "selector.query_ms_per_page": "ms",
        "selector.css_compile_ms": "ms",
        "functions.udf_fixed_s": "s",
        "functions.canonicalize_us_per_url": "us",
    }
    units.update({f"functions.udf_ms_per_row.{e}": "ms" for e in EXTRACTORS})
    for op in CRAWL_OPS + DEDUP_OPS:
        units.update(
            {
                f"operators.{op}.wall_s": "s",
                f"operators.{op}.task_s": "s",
                f"operators.{op}.tail_ratio": "ratio",
                f"operators.{op}.shuffle_mb": "MB",
            }
        )
    units.update({f"operators.{op}.pairs": "count" for op in PAIR_OPS})
    units.update(
        {
            "operators.shard_gate.new_per_link": "ratio",
            "plans.crawl.initialize_s": "s",
            "plans.crawl.wave_s": "s",
            "plans.crawl.spark_busy_s": "s",
            "plans.crawl.driver_gap_s": "s",
            "plans.crawl.jobs_per_wave": "count",
            "plans.crawl.stages_per_wave": "count",
            "plans.crawl.tasks_per_wave": "count",
            "sources.snapshots.commit_s": "s",
            "sources.snapshots.read_s": "s",
            "sources.snapshots.bytes_per_row": "B",
            "sources.snapshots.files_per_commit": "count",
            "sources.synth.gen_ms_per_page": "ms",
            "trace.items_per_s": "1/s",
            "trace.step_p50_s": "s",
            "trace.untraced_items_per_s": "1/s",
            "trace.untraced_step_p50_s": "s",
            "trace.overhead_share": "ratio",
        }
    )
    return units


PER_LAYER = _per_layer_units()


class Spans:
    """Job-group labels around public calls, with their wall intervals."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.records: list[tuple[str, float, float]] = []

    @contextmanager
    def __call__(self, label: str):
        self.sc.setJobGroup(label, label)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.records.append((label, t0, time.time() * 1000.0))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def timed(self, label: str, fn):
        """Run ``fn()`` inside a span; return its wall seconds."""
        t0 = time.perf_counter()
        with self(label):
            fn()
        return time.perf_counter() - t0

    def intervals(self, label: str) -> list[tuple[float, float]]:
        return [(t0, t1) for name, t0, t1 in self.records if name == label]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def eventlog_file(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished Spark event log in {directory}")
    return max(files, key=os.path.getmtime)


class EventLog:
    def __init__(self, path: str) -> None:
        from tools.stage_profile import parse_eventlog

        self.raw = parse_eventlog(path)
        # the two per-task fields parse_eventlog does not keep
        self.durations: dict[int, list[float]] = defaultdict(list)
        self.shuffle_bytes: dict[int, int] = defaultdict(int)
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                sid = ev.get("Stage ID")
                info = ev.get("Task Info", {})
                if info.get("Launch Time") and info.get("Finish Time"):
                    self.durations[sid].append(info["Finish Time"] - info["Launch Time"])
                write = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                self.shuffle_bytes[sid] += int(write.get("Shuffle Bytes Written", 0))

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        return [
            job
            for job in self.raw["jobs"].values()
            if job.get("submitted") is not None and t0 <= job["submitted"] <= t1
        ]

    def stage_ids(self, jobs, t0: float, t1: float) -> set[int]:
        """Stages of ``jobs`` that ran inside [t0, t1] (a stage whose
        shuffle output an earlier job wrote is listed but skipped)."""
        stages = self.raw["stages"]
        return {
            sid
            for job in jobs
            for sid in job["stage_ids"]
            if sid in stages and t0 <= (stages[sid].get("submitted") or 0) <= t1
        }

    def busy_s(self, jobs) -> float:
        """Length of the union of the jobs' run intervals."""
        spans = sorted(
            (j["submitted"], j.get("completed") or j["submitted"]) for j in jobs
        )
        total, end = 0.0, None
        for start, stop in spans:
            if end is None or start > end:
                total += stop - start
                end = stop
            elif stop > end:
                total += stop - end
                end = stop
        return total / 1000.0

    def op_metrics(self, t0: float, t1: float) -> dict[str, float]:
        sids = self.stage_ids(self.jobs_in(t0, t1), t0, t1)
        task_sums = self.raw["task_sums"]
        tail = 1.0
        if sids:
            heavy = max(sids, key=lambda s: task_sums.get(s, 0.0))
            durations = self.durations.get(heavy) or [0.0]
            median = statistics.median(durations)
            tail = max(durations) / median if median > 0 else 1.0
        return {
            "task_s": sum(task_sums.get(s, 0.0) for s in sids) / 1000.0,
            "tail_ratio": tail,
            "shuffle_mb": sum(self.shuffle_bytes.get(s, 0) for s in sids) / 1e6,
        }


# ---------------------------------------------------------------------------
# probes (run in the traced session, after the workload's traced window)
# ---------------------------------------------------------------------------


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_selector(extract) -> dict[str, float]:
    """Driver-side selector core over the extract workload's pages."""
    from parsel_spark.functions.canonical import canonicalize_url
    from parsel_spark.selector import Selector
    from parsel_spark.selector.css import translator_for
    from parsel_spark.sources.synth import page_row

    cfg = extract.cfg
    cdf = cfg.cdf()
    n = min(SELECTOR_PAGES, cfg.n_pages)
    htmls = [page_row(i, cfg, cdf)["html"] for i in range(n)]
    parse_s = _median_time(lambda: [Selector(text=h) for h in htmls], 3)
    sels = [Selector(text=h) for h in htmls]

    def queries():
        for s in sels:
            s.css("a::attr(href)").getall()
            s.xpath("//h1/text()").getall()
            s.css("p.caption::text").getall()
            s.re(r"/page/(\d+)")

    query_s = _median_time(queries, 3)
    translator = translator_for("html")
    uncached = type(translator).css_to_xpath.__wrapped__
    compile_s = _median_time(
        lambda: [uncached(translator, q) for q in CSS_QUERIES], 20
    )
    hrefs = [h for s in sels for h in s.css("a::attr(href)").getall()]
    canon_s = _median_time(lambda: [canonicalize_url(h) for h in hrefs], 3)
    return {
        "selector.parse_ms_per_page": parse_s * 1000.0 / n,
        "selector.query_ms_per_page": query_s * 1000.0 / n,
        "selector.css_compile_ms": compile_s * 1000.0 / len(CSS_QUERIES),
        "functions.canonicalize_us_per_url": canon_s * 1e6 / max(1, len(hrefs)),
    }


def probe_functions(extract, spans: Spans) -> dict[str, float]:
    """Fixed cost of one Python stage (a 1-row pass of the full extractor
    set) and the per-row wall cost of each extractor alone."""
    pages = extract.pages
    rows = min(UDF_ROWS, extract.cfg.n_pages)
    many = pages.limit(rows).cache()
    many.count()
    one = pages.limit(1).cache()
    one.count()
    out = {
        "functions.udf_fixed_s": statistics.median(
            spans.timed("functions.fixed", lambda: noop(extract.extracted(one)))
            for _ in range(3)
        )
    }
    for name in EXTRACTORS:
        t1 = spans.timed(
            f"functions.{name}.1", lambda: noop(extract.extracted(one, [name]))
        )
        tn = spans.timed(
            f"functions.{name}.n", lambda: noop(extract.extracted(many, [name]))
        )
        out[f"functions.udf_ms_per_row.{name}"] = (tn - t1) * 1000.0 / (rows - 1)
    many.unpersist()
    one.unpersist()
    return out


def probe_crawl(crawl, spans: Spans) -> dict[str, float]:
    """Crawl layers: the labelled waves (the traced window's on the crawl
    workload, else ``PROBE_WAVES`` waves after the workload's warm-up), a
    warm ``initialize`` on a fresh catalog, the three crawl operators on
    the state the crawl left, snapshot commit / read-back of its
    wave-sized frames and synthetic page generation."""
    from pyspark.sql import functions as F

    from parsel_spark.operators import frontier as fr
    from parsel_spark.sources.snapshots import SnapshotCatalog
    from parsel_spark.sources.synth import synth_pages

    spark = crawl.spark
    out: dict[str, float] = {}
    if not spans.intervals("plans.crawl.wave"):
        crawl.warm()
        for _ in range(PROBE_WAVES):
            crawl.wave(spans)
    fresh = crawl.new_run("probe-init")
    out["plans.crawl.initialize_s"] = spans.timed(
        "plans.crawl.initialize", lambda: fresh.initialize(crawl.seeds_df)
    )

    catalog = crawl.run.catalog
    parts = crawl.partitions
    frontier = catalog.read_table(spark, "frontier").cache()
    host_state = catalog.read_table(spark, "host_state").repartition(parts, "host").cache()
    crawl_log = catalog.read_table(spark, "crawl_log").cache()
    seen = catalog.read_table(spark, "seen")
    bloom = catalog.read_table(spark, "bloom").cache()
    n_rows = frontier.count() + crawl_log.count()
    host_state.count()
    bloom.count()

    spans.timed(
        "operators.politeness_split",
        lambda: noop(fr.politeness_split(frontier, host_state)),
    )
    dequeued = fr.politeness_split(frontier, host_state).filter(F.col("dequeued"))
    links = (
        fr.extract_wave_links(
            crawl.pages.join(dequeued.select("url"), "url", "left_semi")
        )
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
        .cache()
    )
    n_links = links.count()
    num_shards = crawl.run.num_shards
    gate_state = fr.seen_state_table(seen, bloom, num_shards, parts).cache()
    gate_state.count()
    robots_bc = spark.sparkContext.broadcast(crawl.rules)
    gate = fr.shard_gate(links, gate_state, num_shards, robots_bc=robots_bc)
    spans.timed("operators.shard_gate", lambda: noop(gate))
    n_new = gate.filter(~F.col("is_seen") & F.col("robots_allowed")).count()
    out["operators.shard_gate.new_per_link"] = n_new / max(1, n_links)
    spans.timed(
        "operators.bloom_update",
        lambda: noop(fr.bloom_update(links.select("url", "url_hash"), bloom, num_shards)),
    )

    commits, reads = [], []
    for r in range(3):
        target = SnapshotCatalog(os.path.join(crawl.work, f"probe-commit-{r}"))
        commits.append(
            spans.timed(
                "sources.snapshots.commit",
                lambda: target.commit(
                    wave=1, tables={"frontier": frontier}, appends={"crawl_log": crawl_log}
                ),
            )
        )
        reads.append(
            spans.timed(
                "sources.snapshots.read",
                lambda: [noop(target.read_table(spark, t)) for t in ("frontier", "crawl_log")],
            )
        )
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(target.data_dir)
        for f in names
        if f.endswith(".parquet")
    ]
    out["sources.snapshots.commit_s"] = statistics.median(commits)
    out["sources.snapshots.read_s"] = statistics.median(reads)
    out["sources.snapshots.files_per_commit"] = len(files)
    out["sources.snapshots.bytes_per_row"] = sum(map(os.path.getsize, files)) / max(1, n_rows)
    gen_s = spans.timed("sources.synth", lambda: noop(synth_pages(spark, crawl.cfg)))
    out["sources.synth.gen_ms_per_page"] = gen_s * 1000.0 / crawl.cfg.n_pages

    robots_bc.unpersist()
    for df in (frontier, host_state, crawl_log, bloom, links, gate_state):
        df.unpersist()
    return out


def probe_dedup(dedup, spans: Spans) -> dict[str, float]:
    """One labelled pass of the dedup operators after the workload's
    warm-up (unless the traced window already ran them), and the pair
    counts of the warm-up's collected outputs."""
    if not spans.intervals("operators.exact_dedup"):
        dedup.warm()
        dedup.window(0, spans)
    return {
        f"operators.{op}.pairs": len(dedup.outputs[op][1]) for op in PAIR_OPS
    }


def from_eventlog(log: EventLog, spans: Spans) -> dict[str, float]:
    """The event-log half of the per-layer metrics: medians over every
    labelled call of an operator, and over every labelled crawl wave."""
    out: dict[str, float] = {}
    for op in CRAWL_OPS + DEDUP_OPS:
        calls = []
        for t0, t1 in spans.intervals(f"operators.{op}"):
            calls.append({"wall_s": (t1 - t0) / 1000.0, **log.op_metrics(t0, t1)})
        for key in calls[0]:
            out[f"operators.{op}.{key}"] = statistics.median(c[key] for c in calls)
    waves = []
    for t0, t1 in spans.intervals("plans.crawl.wave"):
        jobs = log.jobs_in(t0, t1)
        sids = log.stage_ids(jobs, t0, t1)
        busy = log.busy_s(jobs)
        waves.append(
            {
                "wave_s": (t1 - t0) / 1000.0,
                "spark_busy_s": busy,
                "driver_gap_s": (t1 - t0) / 1000.0 - busy,
                "jobs_per_wave": len(jobs),
                "stages_per_wave": len(sids),
                "tasks_per_wave": sum(log.raw["task_counts"].get(s, 0) for s in sids),
            }
        )
    for key in waves[0]:
        out[f"plans.crawl.{key}"] = statistics.median(w[key] for w in waves)
    return out

"""The three benchmark workloads: seeded inputs, the timed step loop and
the correctness check of each.

Every workload exposes the same four calls, used by ``run.py``:

* ``prepare()`` builds the seeded inputs (repeated for ``setup_s``);
* ``warm()`` runs the workload once, so the timed window starts with
  spawned Python workers and generated code already compiled;
* ``window(seconds, span)`` is the closed loop: one Spark action at a
  time from the driver, steps while the next one fits in ``seconds``,
  returning ``(wall_seconds, cpu_seconds, items)`` per step;
* ``check(plant)`` compares the outputs with an independent reference
  and returns ``(checks, mismatches)``.  It runs after the window.

``span(label)`` is a context manager from ``layers.py``: a no-op in the
untraced run, a Spark job-group label plus a recorded time interval in
the traced one.  ``plant`` names a deliberately wrong output (used only
by the benchmark's own tests) that the check must catch.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and of every process
    below it (the JVM, the Python workers), counting exited children
    their parent has waited for.  The kernel leaves time the hypervisor
    gave to other guests (steal) out of these counters."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _timed(step):
    """Run ``step()`` (returning its item count): (wall seconds, CPU
    seconds, items)."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    items = step()
    return time.perf_counter() - t0, tree_cpu_s() - c0, items


def _timed_steps(seconds, step):
    """Run ``step()`` at least once, then again while another step of
    the last one's length still fits in ``seconds``; each step is timed
    on its own."""
    out = []
    start = time.perf_counter()
    while not out or time.perf_counter() - start + out[-1][0] <= seconds:
        out.append(_timed(step))
    return out


# ---------------------------------------------------------------------------
# crawl: CrawlRun.initialize + run_wave() with one snapshot commit per wave
# ---------------------------------------------------------------------------


class Crawl:
    """Wave-synchronous crawl over a seeded synthetic web with the
    production politeness rules; checked against ``OracleCrawler``.

    ``warm`` initializes the crawl and runs its first wave (cold JIT and
    Python workers); the window continues the SAME crawl, one
    ``run_wave()`` (with its snapshot commit) per step."""

    name = "crawl"
    # nominal wave time at local[2] on a 4-core machine: the window times
    # round(seconds / WAVE_S) waves, the same waves of the crawl on every
    # run, so the mix of wave sizes in a run never depends on its speed
    WAVE_S = 4.0

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        from parsel_spark.sources.synth import SynthConfig

        self.spark = spark
        self.work = work
        n_pages = max(200, round(3000 * scale))
        self.cfg = SynthConfig(
            n_pages=n_pages,
            n_hosts=n_pages // 4,
            out_degree=12,
            seed=seed,
            zipf_s=0.5,
            with_images=False,
        )
        self.n_seeds = max(20, n_pages // 20)
        self.partitions = spark.sparkContext.defaultParallelism
        self.pages = None
        self.run = None
        self.waves: list[dict] = []

    def prepare(self) -> None:
        from parsel_spark.plans.crawl import CrawlRun
        from parsel_spark.sources.synth import page_url, robots_rows, synth_pages, synth_robots

        if self.pages is not None:
            self.pages.unpersist()
        self.pages = CrawlRun.prepare_pages(
            synth_pages(self.spark, self.cfg), self.partitions
        )
        cdf = self.cfg.cdf()
        stride = max(1, self.cfg.n_pages // self.n_seeds)
        self.seeds = [
            (page_url((i * stride) % self.cfg.n_pages, self.cfg, cdf), float(self.n_seeds - i), i)
            for i in range(self.n_seeds)
        ]
        self.seeds_df = self.spark.createDataFrame(
            self.seeds, "url string, priority double, seq long"
        )
        self.robots = synth_robots(self.spark, self.cfg)
        self.rules = {
            r["host"]: (tuple(r["deny_prefixes"]), tuple(r["allow_prefixes"]))
            for r in robots_rows(self.cfg)
        }

    def new_run(self, name: str):
        from parsel_spark.plans.crawl import CrawlRun
        from parsel_spark.sources.snapshots import SnapshotCatalog

        return CrawlRun(
            self.spark,
            SnapshotCatalog(_fresh_dir(os.path.join(self.work, name))),
            self.pages,
            self.robots,
            frontier_partitions=self.partitions,
            pages_prepared=True,
            robots_rules=self.rules,
        )

    def warm(self) -> None:
        self.run = self.new_run("crawl")
        self.run.initialize(self.seeds_df)
        self.waves = [self.run.run_wave()]

    def window(self, seconds: float, span=nullcontext) -> list[tuple[float, float, int]]:
        if self.run is None:
            self.warm()  # the window continues a started crawl
        n_waves = max(1, round(seconds / self.WAVE_S))
        return [_timed(lambda: self.wave(span)) for _ in range(n_waves)]

    def wave(self, span=nullcontext) -> int:
        with span("plans.crawl.wave"):
            metrics = self.run.run_wave()
        self.waves.append(metrics)
        return metrics["dequeued"] + metrics["links_extracted"]

    def check(self, plant: str | None) -> tuple[int, int]:
        from parsel_spark.plans.oracle import OracleCrawler

        oracle = OracleCrawler(self.cfg)
        oracle.initialize(self.seeds)
        expected = oracle.run(len(self.waves))
        waves = [dict(w) for w in self.waves]
        if plant == "crawl-wave-count":
            waves[1]["dequeued"] += 1
        keys = ("dequeued", "new_urls", "links_extracted")
        checks = len(waves) + 1
        mismatches = abs(len(waves) - len(expected))
        for got, want in zip(waves, expected):
            if any(got[k] != want[k] for k in keys):
                mismatches += 1
                print(f"crawl: wave {got} != oracle {want}", file=sys.stderr)
        if _digest(self.run.seen_set()) != _digest(oracle.seen_set()):
            mismatches += 1
            print("crawl: final seen set differs from the oracle", file=sys.stderr)
        return checks, mismatches


def _digest(urls) -> str:
    return hashlib.sha256("\n".join(sorted(urls)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# extract: a fixed extractor set over cached pages, noop sink
# ---------------------------------------------------------------------------

JSON_BLOCK = r'<script type="application/json">(.*?)</script>'
STRUCT_FIELDS = {
    "alt": (("css", "img::attr(alt)"),),
    "caption": (("xpath", "//p[@class='caption']/text()"),),
    "page_no": (("css", "div.page::attr(id)"), ("re", r"\d+")),
}


def extractors():
    """name -> (column builder over ``html``, driver-side reference over
    the html string).  Each column is one Arrow-batched UDF that parses
    the page again, as a user selecting these columns would."""
    from pyspark.sql import functions as F

    from parsel_spark.functions import udfs
    from parsel_spark.functions.maintext import main_text, main_text_str
    from parsel_spark.functions.markdown import html_to_markdown, to_markdown
    from parsel_spark.selector import Selector

    def sel(html):
        return Selector(text=html)

    def json_text(html):
        import re

        found = re.search(JSON_BLOCK, html, re.S)
        return found.group(1) if found else ""

    def struct_ref(html):
        s = sel(html)
        return {
            "alt": s.css("img::attr(alt)").getall(),
            "caption": s.xpath("//p[@class='caption']/text()").getall(),
            "page_no": s.css("div.page::attr(id)").re(r"\d+"),
        }

    json_col = F.regexp_extract("html", JSON_BLOCK, 1)
    return {
        "css_getall": (
            lambda: udfs.css_getall("html", "h1.title::text"),
            lambda h: sel(h).css("h1.title::text").getall(),
        ),
        "xpath_getall": (
            lambda: udfs.xpath_getall("html", "//li/a/@class"),
            lambda h: sel(h).xpath("//li/a/@class").getall(),
        ),
        "re_extract": (
            lambda: udfs.re_extract("html", r"/page/(\d+)"),
            lambda h: sel(h).re(r"/page/(\d+)"),
        ),
        "jmespath_getall": (
            lambda: udfs.jmespath_getall(json_col, "[image_id, fmt]"),
            lambda h: [
                str(v)
                for v in Selector(text=json_text(h), type="json")
                .jmespath("[image_id, fmt]")
                .getall()
            ],
        ),
        "extract_struct": (
            lambda: udfs.extract_struct("html", STRUCT_FIELDS),
            struct_ref,
        ),
        "extract_links": (
            lambda: udfs.extract_links("html"),
            lambda h: sel(h).css("a::attr(href)").getall(),
        ),
        "main_text": (lambda: main_text("html"), main_text_str),
        "html_to_markdown": (lambda: html_to_markdown("html"), to_markdown),
    }


def _plain(value):
    if hasattr(value, "asDict"):
        return {k: _plain(v) for k, v in value.asDict().items()}
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    return value


class Extract:
    """Pages pushed through ``extractors()`` to a noop sink: no crawl, no
    commit; checked row by row against the driver-side selector."""

    name = "extract"
    SAMPLE = 16

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        from parsel_spark.sources.synth import SynthConfig

        self.spark = spark
        self.seed = seed
        n_pages = max(64, round(1600 * scale))
        self.cfg = SynthConfig(
            n_pages=n_pages,
            n_hosts=max(16, n_pages // 4),
            out_degree=12,
            seed=seed,
            zipf_s=0.5,
            with_images=False,
        )
        self.extractors = extractors()
        self.pages = None

    def _pages(self, cfg):
        from parsel_spark.sources.synth import synth_pages

        pages = synth_pages(self.spark, cfg).select("url", "html").cache()
        pages.count()
        return pages

    def extracted(self, pages, names=None):
        names = names or list(self.extractors)
        return pages.select(
            "url", *[self.extractors[n][0]().alias(n) for n in names]
        )

    def prepare(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = self._pages(self.cfg)

    def warm(self) -> None:
        import dataclasses

        pages = self._pages(dataclasses.replace(self.cfg, n_pages=64, n_hosts=16))
        noop(self.extracted(pages))
        pages.unpersist()

    def window(self, seconds: float, span=nullcontext) -> list[tuple[float, float, int]]:
        def step():
            with span("window.extract.pass"):
                noop(self.extracted(self.pages))
            return self.cfg.n_pages

        return _timed_steps(seconds, step)

    def check(self, plant: str | None) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from parsel_spark.sources.synth import page_row

        rng = random.Random(self.seed)
        ids = sorted(rng.sample(range(self.cfg.n_pages), min(self.SAMPLE, self.cfg.n_pages)))
        cdf = self.cfg.cdf()
        html_of = {}
        for i in ids:
            row = page_row(i, self.cfg, cdf)
            html_of[row["url"]] = row["html"]
        rows = (
            self.extracted(self.pages.filter(F.col("url").isin(list(html_of))))
            .collect()
        )
        got = {r["url"]: {n: _plain(r[n]) for n in self.extractors} for r in rows}
        if plant == "extract-cell":
            first = min(got)
            got[first]["extract_links"] = got[first]["extract_links"][1:]
        checks = mismatches = 0
        for url, html in html_of.items():
            for name, (_, reference) in self.extractors.items():
                checks += 1
                if got.get(url, {}).get(name) != reference(html):
                    mismatches += 1
                    print(f"extract: {name} differs on {url}", file=sys.stderr)
        return checks, mismatches


# ---------------------------------------------------------------------------
# dedup: documents with planted near-duplicate clusters and one hot cluster
# ---------------------------------------------------------------------------

BOILERPLATE = "subscribe to our newsletter for weekly updates"


def synth_documents(seed: int, n_base: int, hot: int):
    """``documents`` rows (doc_id, text, lang, source, n_chars): random
    texts over a seeded vocabulary, one in six with 1-3 near-duplicate
    variants, one in twenty with an exact copy, one in five carrying a
    shared boilerplate sentence, and ONE hot cluster of ``hot`` variants
    of a single text (a hot LSH band / SimHash chunk bucket)."""
    import pandas as pd

    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(5000)}
    )

    def edit(words, n_edits):
        words = list(words)
        for _ in range(n_edits):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        return words

    texts = []
    for i in range(n_base):
        words = [rng.choice(vocab) for _ in range(rng.randint(40, 110))]
        if i % 5 == 0:
            words += BOILERPLATE.split()
        texts.append(words)
        if i % 6 == 0:
            texts += [edit(words, rng.randint(1, 3)) for _ in range(rng.randint(1, 3))]
        if i % 20 == 0:
            texts.append(list(words))
    texts += [edit(texts[0], 1) for _ in range(hot)]
    rng.shuffle(texts)
    langs = ["en", "de", "fr", "es", "zh"]
    joined = [" ".join(w) for w in texts]
    return pd.DataFrame(
        {
            "doc_id": list(range(len(joined))),
            "text": joined,
            "lang": [langs[rng.randrange(len(langs))] for _ in joined],
            "source": [f"src{i % 7}" for i in range(len(joined))],
            "n_chars": [len(t) for t in joined],
        }
    )


def dedup_operators(docs):
    """op name -> (registry query whose oracle_sql() is the reference,
    the operator applied with that registry row's parameters)."""
    from pyspark.sql import functions as F

    from parsel_spark.operators.decontam import decontaminate
    from parsel_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        remove_repeated_ngrams,
        simhash_pairs,
    )

    eval_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return {
        "exact_dedup": ("doc_exact_dedup", lambda: exact_dedup(docs)),
        "minhash_lsh_pairs": (
            "doc_minhash_pairs",
            lambda: minhash_lsh_pairs(docs, threshold=0.35),
        ),
        "simhash_pairs": (
            "doc_simhash_pairs",
            lambda: simhash_pairs(docs, max_hamming=6, bits=120),
        ),
        "remove_repeated_ngrams": (
            "doc_ngram_dedup",
            lambda: remove_repeated_ngrams(docs, n=5, min_docs=2),
        ),
        "decontaminate": (
            "doc_decontaminate",
            lambda: decontaminate(docs, eval_docs, n=5, threshold=0.3),
        ),
    }


def _norm_value(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else f"{value:.9g}"
    return str(value)


def _norm_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm_value(row[i]) for i in order) for row in rows)


# -- exact pair references, computed here from the generated texts --------
# (the DuckDB oracle_sql() of these two registry rows states the same
# definitions but takes minutes on the hot cluster)

P31 = 2147483647  # Mersenne prime of the minhash lanes


def _tokens(text: str) -> list[str]:
    import re

    return re.split(" +", text.strip(" ").lower())


def _hash60(word: str, hex_start: int = 0) -> int:
    return int(hashlib.md5(word.encode()).hexdigest()[hex_start : hex_start + 15], 16)


def minhash_pairs_reference(texts: dict[int, str], threshold=0.35, num_hashes=32, bands=8):
    """Candidate pairs share one of ``bands`` exact signature slices;
    pairs whose shingle-set Jaccard (rounded to 6 places) reaches
    ``threshold`` are kept: (doc_a, doc_b, jac)."""
    import numpy as np

    k = np.arange(num_hashes, dtype=np.int64)[:, None]
    a, b = (2654435761 * (k + 1)) % P31, (40503 * (k + 7)) % P31
    c, d = (2246822519 * (k + 1)) % P31, (374761393 * (k + 3)) % P31
    rows = num_hashes // bands
    shingles, buckets = {}, defaultdict(list)
    for doc, text in texts.items():
        toks = _tokens(text)
        sh = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)] or [" ".join(toks)]
        shingles[doc] = set(sh)
        h = np.array([_hash60(s) for s in sh], dtype=np.int64)[None, :]
        lanes = ((a * (h >> 30) + b) % P31) * (1 << 31) + (c * (h & ((1 << 30) - 1)) + d) % P31
        sig = lanes.min(axis=1).tolist()
        for band in range(bands):
            buckets[(band, tuple(sig[band * rows : (band + 1) * rows]))].append(doc)
    candidates = {
        (x, y) for docs in buckets.values() for x in docs for y in docs if x < y
    }
    out = []
    for x, y in candidates:
        inter = len(shingles[x] & shingles[y])
        jac = round(inter / (len(shingles[x]) + len(shingles[y]) - inter), 6)
        if jac >= threshold:
            out.append((x, y, jac))
    return out


def simhash_pairs_reference(texts: dict[int, str], max_hamming=6):
    """ALL pairs whose 120-bit simhash (two 60-bit md5 lanes, one +-1
    vote per word occurrence and bit) differ in at most ``max_hamming``
    bits: (doc_a, doc_b, hamming)."""
    import numpy as np

    bits = np.arange(60, dtype=np.int64)
    docs = sorted(texts)
    lanes = np.zeros((len(docs), 2), dtype=np.int64)
    for i, doc in enumerate(docs):
        words = _tokens(texts[doc])
        for lane, hex_start in enumerate((0, 15)):
            h = np.array([_hash60(w, hex_start) for w in words], dtype=np.int64)
            votes = (2 * ((h[:, None] >> bits) & 1) - 1).sum(axis=0)
            lanes[i, lane] = int(((votes >= 0).astype(np.int64) << bits).sum())
    popcount = np.array([bin(v).count("1") for v in range(256)], dtype=np.int64)
    out = []
    for i in range(len(docs) - 1):
        x = (lanes[i + 1 :] ^ lanes[i]).view(np.uint8).reshape(-1, 16)
        dist = popcount[x].sum(axis=1)
        for j in np.nonzero(dist <= max_hamming)[0]:
            out.append((docs[i], docs[i + 1 + int(j)], int(dist[j])))
    return out


class Dedup:
    """The five dedup/decontamination operators over a seeded documents
    table, each forced with a noop write.  Checked against an exact
    computation over the generated texts (the two pair operators) or the
    DuckDB ``oracle_sql()`` of the matching registry row (the others)."""

    name = "dedup"

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_base = max(60, round(400 * scale))
        self.hot = max(8, round(60 * scale))
        self.docs = None
        self.n_docs = 0

    def prepare(self) -> None:
        if self.docs is not None:
            self.docs.unpersist()
        self.pdf = synth_documents(self.seed, self.n_base, self.hot)
        self.path = os.path.join(self.work, "documents.parquet")
        self.pdf.to_parquet(self.path, index=False)
        self.docs = (
            self.spark.read.parquet(self.path)
            .repartition(self.spark.sparkContext.defaultParallelism)
            .cache()
        )
        self.n_docs = self.docs.count()
        self.ops = dedup_operators(self.docs)

    def warm(self) -> None:
        """One pass that collects every operator's output: it compiles the
        operators' plans, and ``check`` compares these rows (every later
        pass runs the same operators on the same cached rows)."""
        self.outputs = {}
        for op, (_, build) in self.ops.items():
            df = build()
            self.outputs[op] = (df.columns, [tuple(r) for r in df.collect()])

    def window(self, seconds: float, span=nullcontext) -> list[tuple[float, float, int]]:
        def step():
            for op, (_, build) in self.ops.items():
                with span(f"operators.{op}"):
                    noop(build())
            return self.n_docs

        return _timed_steps(seconds, step)

    def references(self) -> dict:
        """op -> (columns, rows) of the independent reference."""
        import duckdb

        sys.path.insert(0, ROOT)
        import __spark_entry__

        texts = dict(zip(self.pdf["doc_id"].tolist(), self.pdf["text"].tolist()))
        out = {
            "minhash_lsh_pairs": (["doc_a", "doc_b", "jac"], minhash_pairs_reference(texts)),
            "simhash_pairs": (["doc_a", "doc_b", "hamming"], simhash_pairs_reference(texts)),
        }
        oracles = __spark_entry__.oracle_sql()
        with duckdb.connect() as con:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
            for op, (query, _) in self.ops.items():
                if op not in out:
                    rel = con.sql(oracles[query])
                    out[op] = (rel.columns, rel.fetchall())
        return out

    def check(self, plant: str | None) -> tuple[int, int]:
        references = self.references()
        checks = mismatches = 0
        for op, (columns, rows) in self.outputs.items():
            if plant == "dedup-drop-pair" and op == "minhash_lsh_pairs":
                rows = rows[1:]
            got = _norm_rows(columns, rows)
            want = _norm_rows(*references[op])
            checks += 1
            if got != want:
                mismatches += 1
                print(
                    f"dedup: {op} has {len(got)} rows, reference {len(want)}",
                    file=sys.stderr,
                )
        return checks, mismatches


WORKLOADS = {w.name: w for w in (Crawl, Extract, Dedup)}

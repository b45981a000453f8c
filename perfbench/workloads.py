"""The benchmark's workloads, their correctness checks and layer traces.

Each workload is a closed loop with one client: the benchmark process
issues one operation, waits for it, then issues the next. WARMUP_PASSES
untimed passes run first (class loading, codegen, JIT and caches; their
outputs are checked), then passes run back to back until the measuring
window has passed and at least the workload's :data:`MIN_PASSES` have
completed. ``job_s`` is the median pass.

``corpus_zipf``  the reference word-count job on a generated corpus:
                 ``readers.load_text_corpus`` -> ``wordcount.count_words``
                 -> ``orderBy`` -> ``zipWithIndex`` rank ->
                 ``sinks.write_reference_output``; one operation = one pass.
``doc_curation`` two LLM-prep queries over the generated ``documents``
                 table, in an order fixed by the seed; one operation = one
                 query, one pass = both. Each pass starts with nothing
                 cached, so every pass recomputes from the parquet scan.

In a traced run the same passes are split into nested prefixes, each
ended by its own action; a layer's self time is the difference between
consecutive prefixes (Spark is lazy, so timing the calls alone would time
plan building only).
"""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

import gen_corpus
import gen_tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the reference corpus's size and file count
CORPUS_MB = 15.3
CORPUS_FILES = 29
TABLE_SCALE = 0.1
#: the tables doc_curation never reads
TINY_SCALE = 0.001
DOC_QUERIES = (
    "dedup_minhash_lsh_fast",
    "text_tfidf_top_terms",
)
#: untimed passes first: the cold one (class loading, codegen, the first
#: JIT compiles). Pass times keep falling for several more passes while
#: the JIT compiles the hot paths, so the timed passes sit on that curve;
#: when the minimum number of passes outlasts the window, every run times
#: the same passes of it
WARMUP_PASSES = 1
#: timed passes at least, per workload: 20-25 s of passes, as many as the
#: run budget leaves after set-up and the cold pass
MIN_PASSES = {"corpus_zipf": 3, "doc_curation": 5}
#: stop measuring after this long even if MIN_PASSES is not reached,
#: so one run stays well under three minutes
MAX_WINDOW_S = 60.0


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


@dataclass
class Result:
    warmup_s: float
    pass_s: list[float]
    input_bytes: int
    tally: Tally
    layers: dict[str, list[float]]  # per-layer samples, one per traced pass


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def closed_loop(run_pass, seconds: float, min_passes: int) -> tuple[float, list[float]]:
    """WARMUP_PASSES untimed passes, then passes back to back for
    ``seconds`` (at least ``min_passes``, at most MAX_WINDOW_S). Returns
    (seconds before the timed window, timed pass seconds)."""
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        run_pass(warmup=True)
    times: list[float] = []
    start = time.perf_counter()
    while True:
        times.append(run_pass(warmup=False))
        elapsed = time.perf_counter() - start
        if elapsed >= MAX_WINDOW_S or (elapsed >= seconds and len(times) >= min_passes):
            return start - t0, times


# ----------------------------------------------------------------- corpus_zipf


def zip_rank(sorted_counts):
    """``[i]`` rank of a sorted (word, cnt) frame, as the reference prints it:
    zipWithIndex over the range-partitioned sort (no single-partition window)."""
    return (
        sorted_counts.rdd.zipWithIndex()
        .map(lambda p: (int(p[1]), p[0]["word"], int(p[0]["cnt"])))
        .toDF(["rank_idx", "word", "cnt"])
    )


def _read_output(out_dir: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines.extend(fh.read().split("\n"))
    if lines and lines[-1] == "":
        lines.pop()
    return lines


def corpus_zipf(spark, queries, seed, seconds, work_dir, tracer, rest) -> Result:
    from pyspark.sql import functions as F
    from wordcount_spark.functions.text import TOKEN_SPLIT_RE
    from wordcount_spark.operators import wordcount
    from wordcount_spark.sources import readers, sinks

    paths, input_bytes, truth = gen_corpus.generate(
        os.path.join(work_dir, "corpus"), seed, CORPUS_MB, CORPUS_FILES)
    header = os.path.basename(paths[0])
    tally = Tally()
    layers: dict[str, list[float]] = {}
    n = [0]

    def sample(name: str, value: float) -> None:
        layers.setdefault(name, []).append(value)

    def full_pass(out_dir: str) -> tuple[float, float]:
        """(pass seconds, of which building the DataFrames in Python)."""
        t0 = time.perf_counter()
        with tracer.span("queries.build"):
            ranked = zip_rank(wordcount.count_words(readers.load_text_corpus(spark, paths)).orderBy("word"))
        t1 = time.perf_counter()
        with tracer.span("sinks.write_reference_output"):
            sinks.write_reference_output(ranked, out_dir, header, unique_line=True)
        return time.perf_counter() - t0, t1 - t0

    def check(out_dir: str) -> None:
        problems = gen_corpus.check_output(_read_output(out_dir), header, truth)
        if problems:
            tally.fail("corpus output: " + "; ".join(problems[:3]))

    def traced_prefixes() -> float:
        """scan -> +tokenize -> +count -> +sort/rank -> +sink, each its own action."""
        t, c = {}, {}

        def prefix(name, action):
            before = rest.last_stage_id()
            with tracer.span(name) as s:
                out = action()
            t[name], c[name] = s.seconds, rest.stages_after(before)
            return out

        prefix("readers.scan", lambda: _noop(readers.load_text_corpus(spark, paths)))
        tokens = prefix("text.tokenize", lambda: readers.load_text_corpus(spark, paths)
                        .select(F.explode(F.split("text", TOKEN_SPLIT_RE))).count())
        groups = prefix("wordcount.count", lambda: wordcount.count_words(
            readers.load_text_corpus(spark, paths)).count())
        prefix("sinks.rank", lambda: _noop(zip_rank(wordcount.count_words(
            readers.load_text_corpus(spark, paths)).orderBy("word"))))
        out_dir = os.path.join(work_dir, f"out-{n[0]}")
        _, build_s = prefix("sinks.write", lambda: full_pass(out_dir))
        check(out_dir)
        sample("queries.build_s", build_s)
        sample("readers.scan_s", t["readers.scan"])
        sample("readers.input_mb", c["readers.scan"]["inputBytes"] / 1e6)
        sample("readers.scan_tasks", c["readers.scan"]["numTasks"])
        sample("text.tokenize_normalize_s", t["text.tokenize"] - t["readers.scan"])
        sample("text.tokens", tokens)
        sample("wordcount.count_s", t["wordcount.count"] - t["text.tokenize"])
        sample("wordcount.groups", groups)
        sample("wordcount.shuffle_write_mb", c["wordcount.count"]["shuffleWriteBytes"] / 1e6)
        sample("sinks.rank_s", t["sinks.rank"] - t["wordcount.count"])
        sample("sinks.write_s", t["sinks.write"] - t["sinks.rank"])
        sample("sinks.output_mb", _dir_mb(out_dir))
        _spark_samples(sample, c["sinks.write"], t["sinks.write"], spark)
        sample("trace.job_s", t["sinks.write"])
        shutil.rmtree(out_dir, ignore_errors=True)
        return t["sinks.write"]

    def run_pass(warmup: bool) -> float:
        n[0] += 1
        tally.attempted += 1
        t0 = time.perf_counter()
        with tracer.span("pass"):
            try:
                if rest is not None and not warmup:
                    return traced_prefixes()
                out_dir = os.path.join(work_dir, f"out-{n[0]}")
                secs, _ = full_pass(out_dir)
                check(out_dir)
                shutil.rmtree(out_dir, ignore_errors=True)
                return secs
            except Exception as exc:  # a failed pass counts; the loop goes on
                tally.fail(f"corpus pass raised {type(exc).__name__}: {exc}"[:300])
                return time.perf_counter() - t0

    warmup_s, times = closed_loop(run_pass, seconds, MIN_PASSES["corpus_zipf"])
    if rest is not None:
        _storage_samples(sample, rest)
    return Result(warmup_s, times, input_bytes, tally, layers)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)) / 1e6


def _spark_samples(sample, counters: dict, wall_s: float, spark) -> None:
    cores = spark.sparkContext.defaultParallelism
    sample("spark.stages", counters["stages"])
    sample("spark.tasks", counters["numTasks"])
    sample("spark.failed_tasks", counters["numFailedTasks"])
    sample("spark.executor_cpu_s", counters["executorCpuTime"] / 1e9)
    sample("spark.gc_s", counters["jvmGcTime"] / 1e3)
    sample("spark.shuffle_write_mb", counters["shuffleWriteBytes"] / 1e6)
    sample("spark.spill_mb", (counters["memoryBytesSpilled"] + counters["diskBytesSpilled"]) / 1e6)
    sample("spark.cpu_util", counters["executorCpuTime"] / 1e9 / (wall_s * cores))


def _storage_samples(sample, rest) -> None:
    pins, mb = rest.storage()
    sample("caching.pins", pins)
    sample("caching.pinned_mb", mb)


# ---------------------------------------------------------------- doc_curation


def _driver_mirror():
    spec = importlib.util.spec_from_file_location(
        "driver_mirror", os.path.join(ROOT, "tools", "driver_mirror.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    """Compares each query's first result with its DuckDB oracle
    (``registry.get_oracles()`` on ``driver_mirror.duck_con``, cells as
    ``driver_mirror.pandas_cells`` gives them); every later result must
    equal that first one cell for cell."""

    def __init__(self, oracles: dict[str, str], sf_dir: str):
        self.mirror = _driver_mirror()
        self.oracles, self.sf_dir = oracles, sf_dir
        self.reference: dict[str, tuple] = {}
        self.verdict: dict[str, str | None] = {}  # name -> None or the mismatch
        self._con = None

    def _oracle(self, name: str, cells: tuple) -> str | None:
        try:
            if self._con is None:
                self._con = self.mirror.duck_con(self.sf_dir)
            want = self.mirror.pandas_cells(self._con.execute(self.oracles[name]).df())
        except Exception as exc:  # the verdict records it; the run goes on
            return f"oracle raised {type(exc).__name__}: {exc}"
        if cells[0] != want[0]:
            return f"columns {cells[0]}, oracle {want[0]}"
        if len(cells[1]) != len(want[1]):
            return f"{len(cells[1])} rows, oracle {len(want[1])}"
        diff = next((i for i, (a, b) in enumerate(zip(cells[1], want[1])) if a != b), None)
        return None if diff is None else f"row {diff}: {cells[1][diff]} != oracle {want[1][diff]}"

    def check(self, name: str, pdf) -> str | None:
        """None if ``pdf`` is correct, else what is wrong with it."""
        cells = self.mirror.pandas_cells(pdf)
        if name not in self.reference:
            self.reference[name] = cells
            self.verdict[name] = self._oracle(name, cells)
        elif cells != self.reference[name]:
            return "result differs from the oracle-checked one"
        return self.verdict[name]


def clear_pins(spark) -> None:
    """Unpersist every cached frame and empty ``bounded_cache``'s FIFO, so
    the next pass recomputes from the parquet scan and pins as the first
    pass of a fresh session does."""
    from wordcount_spark.operators import caching

    spark.catalog.clearCache()
    caching._pins.clear()


def doc_curation(spark, queries, seed, seconds, work_dir, tracer, rest) -> Result:
    from pyspark.sql import functions as F
    from wordcount_spark import registry
    from wordcount_spark.sources import readers

    sf_dir = os.path.join(work_dir, "tables")
    # only ``documents`` is read; the rest exist so the oracle's views bind
    gen_tables.write_tables(sf_dir, seed, TINY_SCALE, doc_scale=TABLE_SCALE)
    order = list(DOC_QUERIES)
    random.Random(seed).shuffle(order)
    oracle = OracleCheck(registry.get_oracles(), sf_dir)
    tally = Tally()
    layers: dict[str, list[float]] = {}

    def sample(name: str, value: float) -> None:
        layers.setdefault(name, []).append(value)

    def run_pass(warmup: bool) -> float:
        clear_pins(spark)
        traced = rest is not None and not warmup
        if traced:
            before = rest.last_stage_id()
            with tracer.span("readers.scan") as s:
                # touch every column: a noop write of a parquet scan never
                # decodes the column chunks
                docs = readers.load_table(spark, sf_dir, "documents")
                docs.select(F.hash(*docs.columns).alias("h")).agg(F.sum("h")).collect()
            scan = rest.stages_after(before)
            sample("readers.scan_s", s.seconds)
            # the stages' inputBytes count only the parquet footers here
            sample("readers.input_mb", sum(
                os.path.getsize(urlparse(f).path) for f in docs.inputFiles()) / 1e6)
            sample("readers.scan_tasks", scan["numTasks"])
            before = rest.last_stage_id()
        results = {}
        build_s, t0 = 0.0, time.perf_counter()
        with tracer.span("pass"):
            for name in order:
                tally.attempted += 1
                with tracer.span(f"query.{name}") as q:
                    try:
                        tb = time.perf_counter()
                        df = queries[name](spark, sf_dir)
                        build_s += time.perf_counter() - tb
                        results[name] = df.toPandas()
                    except Exception as exc:  # a failed query counts; the pass goes on
                        tally.fail(f"{name} raised {type(exc).__name__}: {exc}"[:300])
                        continue
                if traced:
                    sample(f"query.{name}_s", q.seconds)
        secs = time.perf_counter() - t0
        for name, pdf in results.items():
            problem = oracle.check(name, pdf)
            if problem is not None:
                tally.fail(f"{name}: {problem}"[:300])
        if traced:
            sample("queries.build_s", build_s)
            _spark_samples(sample, rest.stages_after(before), secs, spark)
            sample("trace.job_s", secs)
        return secs

    input_bytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    warmup_s, times = closed_loop(run_pass, seconds, MIN_PASSES["doc_curation"])
    if rest is not None:
        _storage_samples(sample, rest)
    return Result(warmup_s, times, input_bytes, tally, layers)


WORKLOADS = {"corpus_zipf": corpus_zipf, "doc_curation": doc_curation}

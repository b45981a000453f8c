"""Tests of the benchmark itself: input generation, output checks, and a
tiny smoke pass of every workload.

Run from the repository root:  python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
from argparse import Namespace
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402

# An independent reading of the reference tokenizer + HEAD normalizer:
# split on C++ operator>> whitespace, strip leading/trailing ASCII
# punctuation and non-ASCII characters, lower-case ASCII letters only.
_EDGES = re.compile(r"^[!-/:-@\[-`{-~\x80-\U0010ffff]+|[!-/:-@\[-`{-~\x80-\U0010ffff]+$")
_LOWER = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")


def reference_output(paths: list[str], header: str) -> list[str]:
    counts: Counter[str] = Counter()
    for path in paths:
        with open(path, encoding="utf-8", newline="") as fh:
            for tok in re.split(r"[ \t\n\v\f\r]+", fh.read()):
                word = _EDGES.sub("", tok).translate(_LOWER)
                if word:
                    counts[word] += 1
    words = sorted(counts)
    return [f"Filename: {header}", f"Unique words found: {len(words)}"] + [
        f"[{i}] {w}: {counts[w]}" for i, w in enumerate(words)]


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("corpus")
    paths, _, truth = gen_corpus.generate(str(out), seed=7, target_mb=0.3, n_files=5)
    return paths, truth


def _file_bytes(paths):
    return [open(p, "rb").read() for p in paths]


def test_corpus_is_deterministic_per_seed(tmp_path, small_corpus):
    paths, truth = small_corpus
    again, _, truth2 = gen_corpus.generate(str(tmp_path / "a"), seed=7, target_mb=0.3, n_files=5)
    assert truth2 == truth
    assert _file_bytes(again) == _file_bytes(paths)
    _, _, other = gen_corpus.generate(str(tmp_path / "b"), seed=8, target_mb=0.3, n_files=5)
    assert other.digest != truth.digest


def test_corpus_has_the_edge_cases(small_corpus):
    paths, _ = small_corpus
    text = "".join(open(p, encoding="utf-8", newline="").read() for p in paths)
    assert open(paths[0], encoding="utf-8").read().startswith(gen_corpus.BOM)
    for piece in ("“", "”", "—", ",", "(", "\r\n"):
        assert piece in text
    assert re.search(r"(^|\s)[A-Z][a-z]", text)  # Capitalised tokens


def test_ground_truth_matches_an_independent_count(small_corpus):
    paths, truth = small_corpus
    lines = reference_output(paths, "book00.txt")
    assert gen_corpus.check_output(lines, "book00.txt", truth) == []


@pytest.mark.parametrize("corrupt", [
    lambda ls: ls.__setitem__(7, ls[7].rsplit(":", 1)[0] + ": 999999"),  # one count
    lambda ls: ls.__setitem__(7, ls[7].replace("] ", "] x", 1)),           # one word
    lambda ls: ls.pop(9),                                                    # one line lost
    lambda ls: ls.__setitem__(1, "Unique words found: 1"),                  # unique line
    lambda ls: ls.__setitem__(0, "Filename: other.txt"),                    # header
])
def test_ground_truth_check_rejects_one_corrupted_line(small_corpus, corrupt):
    paths, truth = small_corpus
    lines = reference_output(paths, "book00.txt")
    corrupt(lines)
    assert gen_corpus.check_output(lines, "book00.txt", truth) != []


def test_tables_are_deterministic_per_seed():
    from wordcount_spark.sources.readers import TABLES

    a, b = gen_tables.make_tables(3, scale=0.001), gen_tables.make_tables(3, scale=0.001)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not gen_tables.make_tables(4, scale=0.001)["lineitem"].equals(a["lineitem"])


def test_oracle_check_rejects_a_perturbed_result(tmp_path):
    import duckdb
    import workloads
    from wordcount_spark import registry
    from wordcount_spark.sources.readers import TABLES

    sf_dir = str(tmp_path / "tables")
    gen_tables.write_tables(sf_dir, seed=5, scale=0.001)
    name = "text_tfidf_top_terms"
    oracle_sql = registry.get_oracles()[name]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    good = con.execute(oracle_sql).df()
    assert len(good) > 0

    bad = good.copy()
    col = next(c for c in bad.columns if bad[c].dtype.kind in "if")
    bad.loc[0, col] = bad.loc[0, col] + 1

    # the first result goes to the oracle, later ones to the first
    check = workloads.OracleCheck({name: oracle_sql}, sf_dir)
    assert check.check(name, good) is None
    assert check.check(name, good) is None
    assert check.check(name, bad) is not None
    check = workloads.OracleCheck({name: oracle_sql}, sf_dir)
    assert check.check(name, bad) is not None
    assert check.check(name, bad) is not None  # equal to a wrong first result


@pytest.mark.parametrize("workload", ["corpus_zipf", "doc_curation"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke_pass(tmp_path, monkeypatch, workload, trace):
    """A tiny pass of each workload, traced and untraced, through the same
    code the benchmark runs; every metric of BENCHMARK.json is reported."""
    import run
    import workloads

    monkeypatch.setattr(workloads, "CORPUS_MB", 0.3)
    monkeypatch.setattr(workloads, "TABLE_SCALE", 0.01)
    monkeypatch.setitem(workloads.MIN_PASSES, workload, 1)
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):  # measure() repoints both
        monkeypatch.setenv(var, os.environ.get(var, ""))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    args = Namespace(workload=workload, seed=11, seconds=0, trace=trace)
    result, _ = run.measure(args, spec, str(tmp_path / "work"))
    assert result["correct"], result
    assert result["attempted"] >= 2 and result["failed"] == 0
    group = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in group]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())

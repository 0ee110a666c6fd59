"""Self-tests of the benchmark harness (about a minute, one local Spark session):

    python3 -m pytest perfbench/selftest.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pytest

import run
import spans
import workloads as W

SMALL = 40


@pytest.fixture(scope="module")
def work():
    d = os.path.join(run.ROOT, ".perfbench_work", f"selftest-p{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    from log_analysis_ai_spark.session import get_spark

    run.host_env(work)
    s = get_spark(extra_conf=run.spark_conf(work, None))
    yield s
    run.stop_all(s)


def _digest(pdf, path: str) -> str:
    W.write_parquet(pdf, path)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize(
    "gen",
    [W.uniform_transcripts, W.hot_repeat_transcripts, lambda seed, n: W.gen_docs(seed, n)[0]],
    ids=["uniform", "hot_repeat", "docs"],
)
def test_generators_are_seeded(work, gen):
    p = os.path.join(work, "gen.parquet")
    a, b, c = _digest(gen(1, SMALL), p), _digest(gen(1, SMALL), p), _digest(gen(2, SMALL), p)
    assert a == b
    assert a != c


def test_hot_repeat_has_one_hot_repeating_template():
    pdf = W.hot_repeat_transcripts(3, 500)
    hot = pdf["text"].str.startswith("Hot worker ")
    assert 0.85 < hot.mean() < 0.95
    assert pdf["text"][hot].nunique() <= 1000
    assert W.distinct_line_frac(pdf) < 0.3 < W.distinct_line_frac(W.uniform_transcripts(3, 500))


def test_docs_keep_the_documents_table_shape():
    n = 400
    docs, _ = W.gen_docs(6, n)
    base = docs[docs["doc_id"] < n]
    words = base["text"].str.replace(".", "", regex=False).str.lower().str.split()
    table_words = words.map(lambda ws: [w for w in ws if w not in W.FUNCTION_WORDS])
    assert set(table_words.explode()) == set(W.DOC_VOCAB)
    assert table_words.str.len().between(10, 100).all()
    table_rows = ~base["text"].str.endswith(".")
    assert 0.15 < table_rows.mean() < 0.35
    assert base["text"][table_rows].str.split().map(set(W.DOC_VOCAB).issuperset).all()
    near = docs[(docs["doc_id"] >= n) & docs["text"].str.endswith(" dup")]
    assert len(near) == n // 20
    assert near["text"].str[: -len(" dup")].isin(base["text"]).all()
    assert (docs["source"] == "src" + (docs["doc_id"] % 20).astype(str)).all()


def test_docs_plant_exact_copies():
    docs, copies = W.gen_docs(5, 100)
    texts = docs.set_index("doc_id")["text"]
    assert len(copies) == 5
    for i in copies:
        assert (texts[texts.index < i] == texts[i]).any()


def test_benchmark_json_lists_the_metrics_the_harness_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == spans.per_layer_spec()
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)


def _pipeline(work, name: str, resume: bool = False):
    wl = W.PipelineWorkload(name, W.uniform_transcripts, n_conv=SMALL, resume=resume)
    d = os.path.join(work, name)
    os.makedirs(d)
    return wl, wl.generate(7, d), d


def test_perturbed_sink_count_is_a_failed_run(spark, work):
    wl, inp, d = _pipeline(work, "perturbed")
    runner = run.Runner(wl, inp, d)
    assert runner.job(spark)["ok"]
    cls, flag, n = inp.expected["sink_counts"][0]
    inp.expected["sink_counts"][0] = (cls, flag, n + 1)
    assert not runner.job(spark)["ok"]
    assert (runner.attempted, runner.failed) == (2, 1)


def test_injected_crash_commits_exactly_stages_0_and_1(spark, work):
    wl, inp, d = _pipeline(work, "resume", resume=True)
    wl.prepare(spark, inp, d)  # raises unless exactly stage 0-1 is committed
    store = W.SinkStore(inp.base)
    fp = store.lineage_rows()[0]["fingerprint"]
    assert [t for t in W.PIPELINE_TABLES if store.committed(t, fp)] == list(W.STAGE_0_1)
    runner = run.Runner(wl, inp, d)
    assert runner.job(spark)["ok"]  # the timed resume matches the oracle
    assert not os.path.exists(os.path.join(inp.base, "routed"))  # each resume starts from a copy


def test_docs_check_rejects_a_kept_exact_copy(spark, work):
    wl = W.DocsWorkload(n_docs=200)
    d = os.path.join(work, "docs")
    os.makedirs(d)
    inp = wl.generate(4, d)
    out = os.path.join(d, "out")
    wl.run(spark, inp, out)
    assert wl.check(inp, out) == []
    audit = W.pd.read_parquet(os.path.join(out, "audit"))
    kept_id = int(audit.loc[audit["reason"].isna(), "doc_id"].iloc[0])
    inp.expected["exact_copies"].add(kept_id)
    assert wl.check(inp, out) == ["exact_copy_kept"]
    inp.expected["doc_ids"].add(-1)
    assert "audit_totality" in wl.check(inp, out)

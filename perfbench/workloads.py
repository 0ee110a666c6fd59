"""Seeded inputs, the timed job, and the output check for each workload.

Every generator is a pure function of (seed, size) and writes parquet that
the program then reads; nothing it builds is visible to the program except
those files. The oracle answers are computed once per (workload, seed),
before any timer starts.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from log_analysis_ai_spark import fixtures, job
from log_analysis_ai_spark.curate import CurationConfig, curate
from log_analysis_ai_spark.lineage import SinkStore
from log_analysis_ai_spark.oracle.pipeline import run_oracle

PIPELINE_TABLES = ("dead_letter", "turns_parsed", "templates", "routed", "agg_template_tool", "sink_counts")
STAGE_0_1 = ("dead_letter", "turns_parsed", "templates")


def null_span(_name: str):
    return nullcontext()


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    # microsecond timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
    pdf.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


@dataclass
class Inputs:
    main: str            # parquet the jobs read
    rows: int            # input rows of `main` (turns or docs)
    desc: str            # input description, part of the pipeline's run fingerprint
    expected: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)
    base: str | None = None  # warehouse every timed call starts from, if any


# --- transcripts -------------------------------------------------------------

def uniform_transcripts(seed: int, n_conv: int) -> pd.DataFrame:
    """The standard fixture mix for conversations [seed*n, (seed+1)*n)."""
    return fixtures.gen_transcripts_range(seed * n_conv, (seed + 1) * n_conv)


def hot_repeat_transcripts(seed: int, n_conv: int, hot_frac: float = 0.9, vocab: int = 1000) -> pd.DataFrame:
    """The uniform frame with ~hot_frac of its turns rewritten to one hot
    template whose parameters come from `vocab` seeded (worker, job) pairs,
    so one Drain shard is hot and most of its lines repeat."""
    pdf = uniform_transcripts(seed, n_conv)
    rng = np.random.default_rng(seed)
    pairs = rng.integers(0, 10_000, size=(vocab, 2))
    hot = np.flatnonzero(rng.random(len(pdf)) < hot_frac)
    pick = pairs[rng.integers(0, vocab, size=len(hot))]
    texts = pdf["text"].to_numpy(dtype=object)
    texts[hot] = [f"Hot worker {a} finished job {b} stage ok" for a, b in pick]
    pdf["text"] = pd.array(texts, dtype="string")
    return pdf


def distinct_line_frac(pdf: pd.DataFrame) -> float:
    lines = pdf["text"][pdf["text"].str.len() > 0]
    return lines.nunique() / max(len(lines), 1)


def pipeline_expected(pdf: pd.DataFrame) -> dict:
    orc = run_oracle(pdf, fixtures.gen_tool_lookup(), fixtures.gen_role_lookup())
    return {
        "sink_counts": sorted(
            (r.template_class, bool(r.anomaly_flag), int(r.n)) for r in orc.sink_counts.itertuples(index=False)
        ),
        "agg_template_tool": sorted(
            (pd.Timestamp(r.window_start).value, int(r.template_id), r.tool, int(r.n_turns))
            for r in orc.agg_template_tool.itertuples(index=False)
        ),
        "templates": {
            (int(r.template_id), r.template_str, int(r.token_count)) for r in orc.templates.itertuples(index=False)
        },
    }


def pipeline_got(store: SinkStore) -> dict:
    """The committed outputs, read from their snapshot files without Spark."""
    def read(t):
        return pd.read_parquet(store.snapshot_path(t))

    return {
        "sink_counts": sorted(
            (r.template_class, bool(r.anomaly_flag), int(r.n)) for r in read("sink_counts").itertuples(index=False)
        ),
        "agg_template_tool": sorted(
            (pd.Timestamp(r.window_start).value, int(r.template_id), r.tool, int(r.n_turns))
            for r in read("agg_template_tool").itertuples(index=False)
        ),
        "templates": {
            (int(r.template_id), r.template_str, int(r.token_count)) for r in read("templates").itertuples(index=False)
        },
    }


def compare(got: dict, expected: dict) -> list[str]:
    """Names of the outputs that differ from the oracle (empty when all match)."""
    return [k for k in expected if got.get(k) != expected[k]]


def crash_after_stage_1(spark, inp: Inputs, root: str) -> SinkStore:
    """Run the job with `job.route` replaced by a raise, so stages 0-1
    commit and stage 2 never starts. Raises unless exactly the stage 0-1
    tables are committed afterwards."""

    class InjectedCrash(Exception):
        pass

    def crash(*_a, **_k):
        raise InjectedCrash

    store = SinkStore(root)
    real_route, job.route = job.route, crash
    try:
        run_pipeline_job(spark, inp, store, resume=False)
    except InjectedCrash:
        pass
    else:
        raise RuntimeError("injected crash did not fire")
    finally:
        job.route = real_route
    fp = store.lineage_rows()[0]["fingerprint"]
    committed = {t for t in PIPELINE_TABLES if store.committed(t, fp)}
    if committed != set(STAGE_0_1):
        raise RuntimeError(f"after the injected crash committed={sorted(committed)}, want {list(STAGE_0_1)}")
    return store


def run_pipeline_job(spark, inp: Inputs, store: SinkStore, resume: bool, span=null_span):
    base = os.path.dirname(inp.main)
    with span("job.run_checkpointed"):
        job.run_checkpointed(
            spark,
            spark.read.parquet(inp.main),
            spark.read.parquet(os.path.join(base, "tool_lookup.parquet")),
            spark.read.parquet(os.path.join(base, "role_lookup.parquet")),
            store,
            resume=resume,
            input_desc=inp.desc,
        )


def committed_bytes(store: SinkStore) -> int:
    total = 0
    for t in PIPELINE_TABLES:
        snap, man = store.snapshot_path(t), store.current_manifest(t)
        total += sum(os.path.getsize(os.path.join(snap, f["path"])) for f in man["files"])
    return total


class PipelineWorkload:
    """run_checkpointed over seeded transcripts; `resume` times a resume
    from a warehouse an injected crash left at stage 1."""

    def __init__(self, name: str, generator, n_conv: int, resume: bool = False):
        self.name, self.generator, self.n_conv, self.resume = name, generator, n_conv, resume

    def generate(self, seed: int, work: str) -> Inputs:
        d = os.path.join(work, "input")
        os.makedirs(d)
        pdf = self.generator(seed, self.n_conv)
        main = os.path.join(d, "transcripts.parquet")
        write_parquet(pdf, main)
        write_parquet(fixtures.gen_tool_lookup(), os.path.join(d, "tool_lookup.parquet"))
        write_parquet(fixtures.gen_role_lookup(), os.path.join(d, "role_lookup.parquet"))
        return Inputs(
            main, len(pdf), f"{self.name}:{seed}",
            expected=pipeline_expected(pdf),
            stats={"drain.distinct_line_frac": distinct_line_frac(pdf)},
        )

    def prepare(self, spark, inp: Inputs, work: str) -> None:
        if self.resume:
            inp.base = crash_after_stage_1(spark, inp, os.path.join(work, "crashed")).root

    def stage(self, inp: Inputs, root: str) -> None:
        if inp.base:
            shutil.copytree(inp.base, root)

    def run(self, spark, inp: Inputs, root: str, span=null_span) -> None:
        run_pipeline_job(spark, inp, SinkStore(root), resume=self.resume, span=span)

    def check(self, inp: Inputs, root: str) -> list[str]:
        return compare(pipeline_got(SinkStore(root)), inp.expected)

    def output_bytes(self, root: str) -> int:
        return committed_bytes(SinkStore(root))

    def templates(self, root: str) -> int:
        return SinkStore(root).current_manifest("templates")["rows"]


# --- documents ---------------------------------------------------------------

# The shape of the repository's documents test table (documents.parquet in
# the sf* test data): each text is 10-100 words drawn uniformly from these
# 30, about 5% of rows are an earlier row's text plus " dup", the source is
# src<doc_id % 20> and the lang label is drawn from LANG_SHARES.
DOC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)
LANG_SHARES = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
# English function words that are also Gopher stopwords; the vocabulary has
# only "the", and the Gopher quality rule asks for two distinct stopwords
FUNCTION_WORDS = ("and", "of", "to", "that", "with")
TABLE_ROW_FRAC = 0.25


def _as_sentences(rng: np.random.Generator, words: list[str]) -> str:
    """The words as sentences of 6-14 words, one per line, each with one
    function word inside and a closing period."""
    lines, i = [], 0
    while i < len(words):
        k = int(rng.integers(6, 15))
        sent = words[i : i + k]
        i += k
        sent.insert(int(rng.integers(1, len(sent) + 1)), FUNCTION_WORDS[int(rng.integers(0, len(FUNCTION_WORDS)))])
        lines.append(" ".join(sent).capitalize() + ".")
    return "\n".join(lines)


def gen_docs(seed: int, n: int) -> tuple[pd.DataFrame, list[int]]:
    """n base docs in the shape of the documents test table, then 5% exact
    copies and 5% near copies (text + " dup", as the table plants them) of
    earlier docs, with higher doc_ids than their originals.

    TABLE_ROW_FRAC of the base docs are rows as the table has them; the
    recipe's row-local rules reject every such row (lang or Gopher quality,
    as on the table itself). The rest carry the same word draws written as
    sentences with function words, so that some pass the row-local rules
    and the exact, near-dup and budget stages get input.
    Returns (docs, doc_ids of the exact copies)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB, dtype=object)
    texts = []
    for _ in range(n):
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))].tolist()
        texts.append(" ".join(words) if rng.random() < TABLE_ROW_FRAC else _as_sentences(rng, words))
    n_copy = n // 20
    texts += [texts[s] + " dup" for s in rng.integers(0, n, n_copy)]
    texts += [texts[s] for s in rng.integers(0, n, n_copy)]
    ids = np.arange(len(texts), dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(list(LANG_SHARES), size=len(texts), p=list(LANG_SHARES.values())),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": [len(t) for t in texts],
        }
    )
    return docs, list(range(n + n_copy, len(texts)))


class DocsWorkload:
    """curate() with the full recipe; kept and audit written as parquet."""

    name = "docs_curate"

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        # about 40% of the base docs pass the row-local rules, at about 85
        # tokens each over 20 sources: a per-source budget of about half
        # their tokens makes the budget stage cut
        self.config = CurationConfig(
            gopher_quality=True,
            gopher_repetition=True,
            c4=True,
            near_dup="minhash",
            token_budget_per_group=n_docs * 9 // 10,
            budget_cutoff_buckets=8,
        )

    def generate(self, seed: int, work: str) -> Inputs:
        d = os.path.join(work, "input")
        os.makedirs(d)
        docs, exact_copies = gen_docs(seed, self.n_docs)
        main = os.path.join(d, "docs.parquet")
        docs.to_parquet(main, index=False)
        return Inputs(
            main, len(docs), f"{self.name}:{seed}",
            expected={"doc_ids": set(docs["doc_id"].tolist()), "exact_copies": set(exact_copies)},
        )

    def run(self, spark, inp: Inputs, root: str, span=null_span) -> None:
        caches: list = []
        with span("curate.curate"):
            out = curate(spark.read.parquet(inp.main), self.config, caches=caches)
            for name in ("kept", "audit"):
                with span(f"curate.write.{name}"):
                    out[name].write.parquet(os.path.join(root, name))
        for c in caches:
            c.unpersist()

    def prepare(self, spark, inp: Inputs, work: str) -> None:
        pass

    def stage(self, inp: Inputs, root: str) -> None:
        pass

    def check(self, inp: Inputs, root: str) -> list[str]:
        audit = pd.read_parquet(os.path.join(root, "audit"))
        kept = pd.read_parquet(os.path.join(root, "kept"), columns=["doc_id"])
        problems = []
        ids = audit["doc_id"]
        if len(ids) != len(inp.expected["doc_ids"]) or set(ids) != inp.expected["doc_ids"]:
            problems.append("audit_totality")
        passed = set(ids[audit["reason"].isna()])
        if len(kept) != len(passed) or set(kept["doc_id"]) != passed:
            problems.append("kept_vs_audit")
        if inp.expected["exact_copies"] & passed:
            problems.append("exact_copy_kept")
        return problems

    def output_bytes(self, root: str) -> int:
        return dir_bytes(root)

    def templates(self, root: str) -> int:
        return 0


WORKLOADS = {
    w.name: w
    for w in (
        PipelineWorkload("batch_uniform", uniform_transcripts, n_conv=2000),
        PipelineWorkload("batch_hot_repeat", hot_repeat_transcripts, n_conv=2000),
        PipelineWorkload("resume_route", uniform_transcripts, n_conv=2000, resume=True),
        DocsWorkload(n_docs=1600),
    )
}

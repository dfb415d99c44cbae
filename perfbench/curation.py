"""The corpus_dedup workload: quality filter → dedup_corpus → hash_split
over a seeded corpus with planted duplicates."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from is3107datapipelineproject_spark.operators import dedup as D
from is3107datapipelineproject_spark.operators.sampling import hash_split
from is3107datapipelineproject_spark.operators.text import quality_score

import gen_corpus as C
from harness import OpLog, closed_loop


class CorpusDedup:
    n_docs = 6000

    def __init__(self, ctx):
        self.ctx = ctx
        self.corpus = C.generate(ctx.seed, self.n_docs)
        self.path = f"{ctx.root}/corpus"
        write_corpus(self.corpus, self.path, ctx.cpus)
        self.n = 0
        self.recall = []
        self.false_removals = []
        self.removed = []

    def sizes(self) -> dict:
        c = self.corpus
        return {"docs": len(c.docs), "planted_clusters": len(c.clusters),
                "planted_duplicates": sum(len(m) - 1 for m in c.clusters), "junk": len(c.junk)}

    def setup(self) -> float:
        """Two passes, the first cold, so the window starts with the JIT
        warm; returns their seconds, without the checks."""
        seconds = 0.0
        for _ in range(2):
            t0 = time.perf_counter()
            out = self._pass()
            seconds += time.perf_counter() - t0
            self._check(out, record=False)
        return seconds

    def _pass(self) -> str:
        """One curation pass; returns the output path."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        out = f"{self.ctx.root}/curated{self.n}"
        self.n += 1
        with tr.span("op"):
            docs = spark.read.parquet(self.path)
            with tr.span("text.quality"):
                good = tr.force(docs.filter(quality_score("text") >= C.QUALITY_MIN))
            with tr.span("dedup.corpus"):
                kept = D.dedup_corpus(good, "text", "doc_id")
            with tr.span("sampling.hash_split"):
                hash_split(kept, "doc_id").select("doc_id", "split").write.parquet(out)
        if tr.enabled:
            good.unpersist()
        return out

    def measure(self, seconds: float, log: OpLog) -> None:
        closed_loop(seconds, 1, self._pass, log, after=self._check)

    def report(self) -> list[str]:
        return [f"# dedup recall {self.recall[:1]} false_removals {self.false_removals[:1]}"]

    def _check(self, out: str, record: bool = True) -> None:
        corpus = self.corpus
        got = {r.doc_id: r.split for r in self.ctx.spark.read.parquet(out).collect()}
        problems = curation_problems(corpus, got)
        self.ctx.check.expect("corpus_dedup", not problems, "; ".join(problems))
        shutil.rmtree(out, ignore_errors=True)
        if record:
            # recall over planted duplicates, and removals of unplanted docs
            planted = {d for m in corpus.clusters for d in m if d != min(m)}
            removed = {d for d, _ in corpus.docs} - corpus.junk - set(got)
            self.recall.append(len(planted & removed) / max(1, len(planted)))
            self.false_removals.append(len(removed - planted))
            self.removed.append(len(removed))


def write_corpus(corpus: C.Corpus, path: str, files: int) -> None:
    """The corpus as ``files`` parquet files of ``doc_id long, text
    string``, written without the engine."""
    os.makedirs(path)
    ids, texts = zip(*corpus.docs)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    step = -(-len(ids) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def curation_problems(corpus: C.Corpus, got: dict) -> list[str]:
    """How a curated ``doc_id -> split`` output differs from the planted truth."""
    want = corpus.expected_survivors()
    problems = []
    if set(got) != want:
        problems.append(f"kept {len(got)} docs, expected {len(want)}; extra "
                        f"{sorted(set(got) - want)[:5]} missing {sorted(want - set(got))[:5]}")
    bad = [d for d, s in got.items() if s != C.split_of(d)]
    if bad:
        problems.append(f"{len(bad)} docs in the wrong split, e.g. {bad[:5]}")
    return problems


def wrap_dedup_layers(tracer):
    """Traced runs only: open a span around the two public functions
    ``dedup_corpus`` composes, forcing each one's output inside it.
    Returns the undo callable."""
    originals = {}

    def wrap(name: str, span: str):
        fn = getattr(D, name)
        originals[name] = fn

        def traced(*args, **kwargs):
            with tracer.span(span) as sp:
                out = tracer.force(fn(*args, **kwargs))
            if sp is not None:
                with tracer.span("bench.bookkeeping"):
                    sp.counts["rows_out"] = out.count()
            return out

        setattr(D, name, traced)

    wrap("minhash_neardup_pairs", "dedup.pairs")
    wrap("neardup_clusters", "dedup.cluster")

    def undo():
        for name, fn in originals.items():
            setattr(D, name, fn)

    return undo


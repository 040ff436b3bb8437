"""``curate`` workload: repeated passes of the corpus-curation pipeline
over one seeded corpus stored as parquet.

One pass reads the corpus, runs ``datapipe.curate.curate`` for the
keep-list, packs the kept documents with ``datapipe.corpus.pack_sequences``
and materialises the result with a ``noop`` write.  The benchmark's
checks run after the timed passes.
"""

from __future__ import annotations

import time
from contextlib import nullcontext

from gen import Corpus

SEQ_BUDGET = 2048


class Curation:
    def __init__(self, spark, corpus: Corpus, data_root: str, tracer=None):
        self.spark = spark
        self.corpus = corpus
        self.path = f"{data_root}/corpus"
        self.tracer = tracer
        # one record per pass: wall ms, packed-row count, max seq offset
        self.passes: list[dict] = []
        self.keep: dict[int, bool] = {}

    def store(self) -> None:
        df = self.spark.createDataFrame(
            self.corpus.rows, "doc_id long, text string, lang string"
        )
        df.write.mode("overwrite").parquet(self.path)

    def _pass(self):
        from pyspark.sql import Observation, functions as F

        from opengemini_spark.datapipe.corpus import pack_sequences
        from opengemini_spark.datapipe.curate import curate

        span = self.tracer.span if self.tracer else (lambda name: nullcontext())
        docs = self.spark.read.parquet(self.path)
        with span("datapipe.curate"):
            keep = curate(docs)
        kept = docs.join(keep.filter("keep").select("doc_id"), "doc_id")
        with span("datapipe.pack"):
            packed = pack_sequences(kept, budget=SEQ_BUDGET)
        obs = Observation()
        packed = packed.observe(
            obs, F.count(F.lit(1)).alias("n"), F.max("seq_offset").alias("max_off")
        )
        with span("datapipe.action"):
            packed.write.format("noop").mode("overwrite").save()
        return obs.get

    def run_pass(self, i: int, timed: bool) -> None:
        rec = {"i": i, "timed": timed, "error": None}
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                got = self._pass()
            else:
                self.tracer.op = i
                with self.tracer.span("op.curate"):
                    got = self._pass()
            rec.update(n=int(got["n"]), max_off=got["max_off"])
        except Exception as e:  # a failed pass is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
        finally:
            rec["latency_ms"] = (time.perf_counter() - t0) * 1000.0
            rec["window"] = (t_wall, time.time())
            if self.tracer is not None:
                self.tracer.op = None
        self.passes.append(rec)

    def warm_up(self) -> None:
        """Untimed: one keep-list collect, which the checks use later, then
        one pass; pass times still fall after the first."""
        from opengemini_spark.datapipe.curate import curate

        self.keep = {
            r["doc_id"]: r["keep"]
            for r in curate(self.spark.read.parquet(self.path)).collect()
        }
        self.run_pass(-1, timed=False)

    def run(self, seconds: float) -> float:
        """Passes until ``seconds`` have passed, at least three so the
        median is a middle one.  → timed wall seconds."""
        t0 = time.perf_counter()
        i = 1
        while i < 4 or time.perf_counter() - t0 < seconds:
            self.run_pass(i, timed=True)
            i += 1
        return time.perf_counter() - t0

    def check(self) -> tuple[int, list[str]]:
        """Every planted exact-duplicate cluster keeps exactly one member,
        no French document is kept, and every pass packed as many documents
        as the keep-list holds.  → (failed checks, messages); each pass is
        one check and the keep-list another."""
        keep = self.keep
        n_keep = sum(keep.values())
        keep_bad = []
        if len(keep) != len(self.corpus.rows):
            keep_bad.append(f"keep-list has {len(keep)} docs, corpus {len(self.corpus.rows)}")
        for c in self.corpus.exact_clusters:
            kept = sum(keep.get(d, False) for d in c)
            if kept != 1:
                keep_bad.append(f"exact cluster {c[:4]} keeps {kept}")
        if any(keep.get(d) for d, _, lang in self.corpus.rows if lang == "fr"):
            keep_bad.append("a fr document was kept")
        pass_bad = []
        for p in self.passes:
            if p["error"] is not None:
                pass_bad.append(f"pass {p['i']}: {p['error']}")
            elif p["n"] != n_keep:
                pass_bad.append(f"pass {p['i']} packed {p['n']} docs, keep-list {n_keep}")
            elif not 0 <= p["max_off"] < SEQ_BUDGET:
                pass_bad.append(f"pass {p['i']} seq_offset {p['max_off']} outside budget")
        return len(pass_bad) + bool(keep_bad), pass_bad + keep_bad


def install_spans(tracer) -> None:
    """``curate`` binds its stages at import time: wrap them there."""
    from opengemini_spark.datapipe import curate

    tracer.wrap(curate, "minhash_lsh_dedup", "datapipe.dedup")
    tracer.wrap(curate, "connected_components", "datapipe.components")
    tracer.wrap(curate, "quality_score", "datapipe.quality")


#: per-layer metric → (span name, "self" or "total")
LAYER_SPANS = {
    "datapipe.dedup_ms": ("datapipe.dedup", "total"),
    "datapipe.components_ms": ("datapipe.components", "total"),
    "datapipe.quality_ms": ("datapipe.quality", "total"),
    "datapipe.pack_ms": ("datapipe.pack", "total"),
    "datapipe.action_ms": ("datapipe.action", "total"),
}

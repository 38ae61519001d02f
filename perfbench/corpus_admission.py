"""``corpus_admission``: near-duplicate admission of document batches.

One closed-loop client; one operation is one ``dedup.admit_batch`` call
against a persisted MinHash signature store (a snapshot table seeded with
the corpus's signatures). Each batch holds a planted share of exact
copies of corpus documents and of near-duplicate rewrites (a tenth of the
words replaced); the rest are novel. Every planted exact copy must be
rejected. Each build seeds a fresh store and admits batch 0, and the
admitted count of batch 0 must be identical across builds (the admission
is deterministic for a given seed). The SQL front door stays idle.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa

from perfbench import datagen
from perfbench.common import NAMESPACE, median, write_input
from perfbench.trace import Tracer

N_VOCAB = 3_000
N_CORPUS = 2_000
BATCH = 200
N_EXACT = 20
N_NEAR = 20
BATCHES_PER_ROUND = 4


class CorpusAdmission:
    name = "corpus_admission"
    builds = 2
    c1_jit = False
    min_rounds = 1

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.inputs = work / "inputs"
        self.failures: list[str] = []

    # -- inputs --------------------------------------------------------------

    def generate(self) -> str:
        self.vocab = datagen.vocabulary(datagen.rng_for(self.seed, 1), N_VOCAB)
        self.corpus = datagen.documents(datagen.rng_for(self.seed, 2), self.vocab, N_CORPUS)
        corpus = pa.table({"doc_id": pa.array(range(1, N_CORPUS + 1), pa.int64()),
                           "text": self.corpus})
        self.corpus_path = write_input(corpus, self.inputs / "corpus.parquet")
        first = [self._batch(b)[0] for b in range(2)]
        return datagen.fingerprint(corpus, *first)

    def _batch(self, b: int) -> tuple[pa.Table, set[int]]:
        """Batch ``b``: (documents, ids of the planted exact copies)."""
        rng = datagen.rng_for(self.seed, 10, b)
        n_new = BATCH - N_EXACT - N_NEAR
        texts = datagen.documents(rng, self.vocab, n_new)
        sources = rng.integers(0, N_CORPUS, N_EXACT + N_NEAR)
        texts += [self.corpus[i] for i in sources[:N_EXACT]]
        texts += [datagen.rewrite(rng, self.vocab, self.corpus[i], 0.1) for i in sources[N_EXACT:]]
        order = rng.permutation(BATCH)
        first_id = N_CORPUS + 1 + b * BATCH
        ids = [first_id + int(i) for i in range(BATCH)]
        exact = {ids[int(j)] for j in range(BATCH) if n_new <= order[j] < n_new + N_EXACT}
        docs = pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": [texts[int(k)] for k in order]})
        return docs, exact

    # -- setup ---------------------------------------------------------------

    def build(self, spark, root: Path) -> None:
        from iceberg_quickstart_iac_spark.operators import dedup

        self.store = dedup.load_or_build_signature_store(
            spark, spark.read.parquet(self.corpus_path),
            root / NAMESPACE / "doc_signatures", "doc_id", "text")
        self.batch = 0
        rec = self.run_op(spark, Tracer(), self._prepare())
        if not rec["ok"]:
            self.failures.append("batch 0 admitted a planted exact copy")
        first = getattr(self, "batch0_admitted", rec["admitted"])
        if rec["admitted"] != first:
            self.failures.append(f"batch 0 admitted {rec['admitted']} then {first} docs")
        self.batch0_admitted = first

    def warmup(self, spark, tracer) -> None:
        """Nothing left to warm: every build already admitted batch 0."""

    # -- operations ----------------------------------------------------------

    def _prepare(self) -> dict:
        b = self.batch
        self.batch += 1
        docs, exact = self._batch(b)
        return {"path": write_input(docs, self.inputs / f"batch-{b}.parquet"),
                "exact": exact, "txn": ("perfbench", b)}

    def round(self, r: int) -> list:
        return [self._prepare() for _ in range(BATCHES_PER_ROUND)]

    def run_op(self, spark, tracer, op) -> dict:
        from iceberg_quickstart_iac_spark.operators import dedup

        out = dedup.admit_batch(self.store, spark.read.parquet(op["path"]), "doc_id", "text",
                                txn=op["txn"])
        with tracer.span("exec.collect"):
            rejected = {r[0] for r in out["matches"].select("new_id").collect()}
        admitted = BATCH - len(rejected)
        return {"ok": op["exact"] <= rejected, "admitted": admitted}

    def finish(self, spark) -> list[str]:
        return self.failures

    # -- metrics -------------------------------------------------------------

    def metrics(self, records: list[dict], wall: float) -> tuple[dict, dict]:
        ms = [r["ms"] for r in records]
        self.scored = BATCH * len(records)
        self.admitted = sum(r.get("admitted", 0) for r in records)
        e2e = {"op_cpu_ms": median([r["cpu_ms"] for r in records])}
        human = {"op_p50_ms": median(ms), "ops_per_s": len(ms) / wall,
                 "admit_p50_ms": median(ms), "docs_per_s": self.scored / wall,
                 "batches": len(ms), "admitted_ratio": self.admitted / max(1, self.scored),
                 "batch0_admitted": self.batch0_admitted}
        return e2e, human

    def layer_extra(self) -> dict:
        return {"dedup.admitted_ratio": self.admitted / max(1, self.scored)}

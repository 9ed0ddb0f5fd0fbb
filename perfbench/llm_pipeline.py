"""``llm_pipeline``: one batch job per unit composes ``pipeline.text`` ->
``pipeline.dedup`` -> ``pipeline.packing`` over a 1.5k-document corpus
and writes the packed result as parquet.

The corpus has the shape of the sf0.1 ``documents`` table (10-110 words,
long documents split into two paragraphs). A seeded share of documents
is overwritten with exact copies (differing only in case and spacing),
near copies (one or two words changed) and boilerplate paragraphs, so
every dedup stage does real work. The corpus is small because the
n-gram stages cost ~2 ms per document on a 4-core host: at 40k documents
one run takes ~35 s warm and ~85 s cold, more than a run's time budget.
Each stage materializes its output (``Frame.compute``) and is one timed
op; the checks run on the written parquet outside the timed spans.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cuplyr_spark.pipeline import dedup as D
from cuplyr_spark.pipeline import packing as PK
from cuplyr_spark.pipeline import text as TX
from cuplyr_spark.sources import readers

import datagen
from common import Workload

WHY = (
    "compute-bound: MinHash/LSH, n-gram explode and paragraph windows keep "
    "the executors busy; plan build is a small share"
)
CORPUS_DOCS = 1_500
QUALITY_MIN = 0.25
DECON_NGRAM = 5
PACK_BUDGET = 2048
PACK_SHARDS = 8
BOILERPLATE = (
    "subscribe to our newsletter for updates",
    "follow us on social media",
    "all rights reserved terms of use apply",
)


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def shingles(text: str, k: int) -> set[str]:
    """``pipeline.dedup.word_shingles`` in Python: k-word windows of the
    single-space split; shorter texts are one shingle."""
    toks = text.split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def make_corpus(rng: np.random.Generator):
    """(doc_ids, texts, eval_texts, near_groups). ``near_groups`` maps each
    near-copy target to its source document."""
    texts = []
    for t in datagen.documents(rng, CORPUS_DOCS).column("text").to_pylist():
        words = t.split(" ")
        if len(words) > 30:  # two paragraphs, split after word 15
            t = " ".join(words[:15]) + "\n" + " ".join(words[15:])
        texts.append(t)
    n = len(texts)
    share_exact = rng.uniform(0.02, 0.04)
    share_near = rng.uniform(0.03, 0.06)
    share_boiler = rng.uniform(0.15, 0.35)
    order = rng.permutation(n)
    n_exact, n_near = int(n * share_exact), int(n * share_near)
    sources = order[: n_exact + n_near]
    targets = order[n_exact + n_near: 2 * (n_exact + n_near)]
    near_groups = {}
    for k, (src, dst) in enumerate(zip(sources, targets)):
        t = texts[src]
        if k < n_exact:
            texts[dst] = "  " + t.upper() + " " if k % 2 else t.replace(" ", "  ", 1)
        else:
            words = t.split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(datagen.WORDS))
            texts[dst] = " ".join(words)
            near_groups[int(dst)] = int(src)
    for i in np.flatnonzero(rng.random(n) < share_boiler):
        texts[i] = texts[i] + "\n" + BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))]
    eval_ids = rng.choice(n, size=n // 400, replace=False)
    eval_texts = [texts[i] for i in eval_ids] + datagen.random_texts(rng, n // 400, 20, 80)
    ids = np.arange(n, dtype=np.int64)
    return ids, texts, eval_texts, near_groups


class LlmPipeline(Workload):
    name = "llm_pipeline"
    why = WHY
    STAGES = ("pipeline.text.quality", "pipeline.text.gopher", "pipeline.dedup.exact",
              "pipeline.dedup.minhash_lsh", "pipeline.dedup.paragraph",
              "pipeline.dedup.decontaminate", "pipeline.packing.pack")
    op_span_metrics = {f"{s}_s": s for s in STAGES}

    def setup_inputs(self, rng):
        ids, texts, eval_texts, self.near_groups = make_corpus(rng)
        self.texts = texts
        os.makedirs(self.data_dir, exist_ok=True)
        self.corpus = f"{self.data_dir}/corpus.parquet"
        self.eval_path = f"{self.data_dir}/eval.parquet"
        corpus = pa.table({"doc_id": ids, "text": texts})
        pq.write_table(corpus, self.corpus, row_group_size=len(ids) // 8)
        pq.write_table(pa.table({"doc_id": np.arange(len(eval_texts), dtype=np.int64),
                                 "text": eval_texts}), self.eval_path)
        self.eval_grams = set().union(*(shingles(t, DECON_NGRAM) for t in eval_texts))
        return {
            "corpus": {"rows": len(ids), "bytes": os.path.getsize(self.corpus)},
            "eval_slice": {"rows": len(eval_texts), "bytes": os.path.getsize(self.eval_path)},
        }

    def prepare(self):
        # stage-once artifact: the eval slice's distinct n-grams
        self.grams_dir = f"{self.data_dir}/eval_grams"
        grams = D.benchmark_grams(readers.read_parquet(self.spark, self.eval_path), ngram=DECON_NGRAM)
        readers.write_parquet(grams, self.grams_dir)
        self.digest = None

    # -- the pipeline ------------------------------------------------------------
    def _stages(self):
        spark = self.spark

        def quality(docs):
            return TX.with_quality_score(docs).filter(f"quality >= {QUALITY_MIN}").compute()

        def gopher(f):
            return TX.with_gopher_flags(f).filter("gopher_pass").select("doc_id", "text").compute()

        def exact(f):
            reps = D.exact_dedup(TX.with_fingerprint(f), "fingerprint", id_col="doc_id")
            return f.semi_join(reps, by="doc_id").compute()

        def minhash_lsh(f):
            self.pairs = D.minhash_lsh_pairs(f).compute()
            losers = D.dedup_clusters(self.pairs).filter("cluster_id != doc_id").select("doc_id")
            return f.anti_join(losers, by="doc_id").compute()

        def paragraph(f):
            return D.dedup_paragraphs(f).compute()

        def decontaminate(f):
            grams = readers.read_parquet(spark, self.grams_dir)
            return (D.flag_contaminated_hashed(f, ngram=DECON_NGRAM, grams=grams)
                    .filter(~F.col("contaminated")).select("doc_id", "text").compute())

        def pack(f):
            toks = TX.with_token_stats(f).select("doc_id", "text", "n_tokens")
            packed = PK.pack_greedy(toks, budget=PACK_BUDGET, shards=PACK_SHARDS)
            readers.write_parquet(packed, self.out_dir)
            return packed

        return (quality, gopher, exact, minhash_lsh, paragraph, decontaminate, pack)

    def pipeline(self) -> bool:
        """One pipeline run: each stage is one op. Returns whether the run
        completed and its output passed the checks."""
        self.out_dir = f"{self.work_dir}/packed"
        frame = readers.read_parquet(self.spark, self.corpus)
        cached = []
        ok = True
        for name, stage in zip(self.STAGES, self._stages()):
            if not ok:  # an earlier stage failed: the rest cannot run
                self.attempt(name, lambda: False)
                continue

            def op(f=frame, stage=stage, name=name):
                with self.timed(name):
                    return stage(f)

            out = self.attempt(name, op)
            if out is None:
                ok = False
                continue
            self.note_frame(out)
            cached.append(out)
            frame = out
        if ok:
            ok = self.check()
            if not ok:
                self.mark_failed("output check")
        if self.traced and ok:
            self.note_ratios()
        for f in cached:
            f.unpersist()
        return ok

    def run_unit(self, rng):
        self.pipeline()

    # -- checks ------------------------------------------------------------------
    def check(self) -> bool:
        out = pq.read_table(self.out_dir).to_pandas()
        ids = out["doc_id"].to_numpy()
        n = len(self.texts)
        problems = []
        if len(np.unique(ids)) != len(ids) or ids.min() < 0 or ids.max() >= n:
            problems.append("output ids are not a subset of the input")
        norm = [_norm(self.texts[i]) for i in ids]
        if len(set(norm)) != len(norm):
            problems.append("an exact duplicate survived")
        toks = out["text"].map(lambda t: len(t.split(" "))).to_numpy()
        if not (toks == out["n_tokens"].to_numpy()).all():
            problems.append("n_tokens disagrees with the text")
        packs = out.groupby(["shard", "pack_id"])
        totals = packs["pack_tokens"].max()
        if int(totals.sum()) != int(out["n_tokens"].sum()):
            problems.append("packed token total is not conserved")
        if ((totals > PACK_BUDGET) & (packs.size() > 1)).any():
            problems.append("a multi-document pack exceeds the budget")
        digest = hashlib.sha256(
            out.sort_values("doc_id")[["doc_id", "shard", "pack_id", "pack_pos", "text"]]
            .to_csv(index=False).encode()).hexdigest()
        if self.digest is None:
            # full contamination check once; later runs must match the digest
            if any(shingles(t, DECON_NGRAM) & self.eval_grams for t in out["text"]):
                problems.append("a contaminated document survived")
            self.digest = digest
            self.kept = len(out)
        elif digest != self.digest:
            problems.append("output digest differs from the first run with this seed")
        for p in problems:
            print(f"# llm_pipeline check: {p}", flush=True)
        return not problems

    def note_ratios(self) -> None:
        """Candidate pairs that join two members of one planted near-copy
        group, per candidate; and the share of input documents kept."""
        pairs = self.pairs.collect()
        group = self.near_groups.get
        true = sum(1 for a, b in zip(pairs["id_a"].tolist(), pairs["id_b"].tolist())
                   if group(a, a) == group(b, b))
        self.note("pipeline.dedup.near_dup_pairs_per_candidate", true / max(1, len(pairs)))
        self.note("pipeline.dedup.docs_kept_frac", self.kept / len(self.texts))

    def issue_metrics(self):
        docs_per_s = len(self.texts) / self.unit_seconds()
        return {"pipeline_docs_per_s": (docs_per_s, "docs/s")}

    def notes(self):
        return [f"output digest {self.digest} ({self.kept} of {len(self.texts)} docs kept)"]

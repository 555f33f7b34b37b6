"""Seeded document corpus and the curation-layer probe of traced runs.

The engine's dedup, similarity and quality operators and its curation
pipeline read a corpus directory holding ``documents.parquet`` and
``embeddings.parquet``. This module writes a small one shaped like the
engine's test corpus (word-salad documents, 64-dim embeddings), with
exact copies and near-copies planted so the dedup rungs have work to do,
then times ``sources.readers``, one registry query per operator module
and the whole curation ladder on it, each alone. Every query is diffed
against its DuckDB oracle and the ladder's funnel is checked against
what the generator planted.
"""

from __future__ import annotations

import math
import os
import random
import time

from pyspark.sql import SparkSession

from real_time_data_engineering_spark import registry
from real_time_data_engineering_spark.checks.oracle import OracleDiffer
from real_time_data_engineering_spark.plans.curation_pipeline import curate_corpus
from real_time_data_engineering_spark.schemas import TESTDATA
from real_time_data_engineering_spark.sources.readers import load_table

from tracing import Tracer
from workloads import Check, force

#: Documents and vectors per scale.
SIZES = {"full": (3000, 1500), "tiny": (300, 200)}
#: One registry query per operator module the ladder composes: exact and
#: MinHash dedup, quality (repetition stats) and similarity (cosine top-k).
#: Each has a DuckDB oracle.
QUERIES = ("d1_exact_dedup", "d5_minhash_lsh", "d12_repetition_stats", "s1_cosine_topk")

WORDS = (
    "a the and of to in is it for on data spark stream batch query table row column key value "
    "hash sort merge join group agg filter window scan part line order fast slow big small "
    "vector index file read write node task stage job plan cache store event time day"
).split()
LANGS = ("en", "en", "en", "de", "fr", "zh")
DIM = 64


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(12, 80)))


def _unit(vec: list[float]) -> list[float]:
    norm = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / norm for x in vec]


def write_corpus(spark: SparkSession, sf_dir: str, n_docs: int, n_vectors: int, seed: int) -> dict[str, int]:
    """Write the corpus; returns what the generator planted.

    About 8% of documents are exact copies of an earlier one (fresh
    ``doc_id``) and 8% are near-copies with a few words replaced; about 8%
    of vectors are small perturbations of an earlier vector.
    """
    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        roll = rng.random()
        if texts and roll < 0.08:
            texts.append(rng.choice(texts))
        elif texts and roll < 0.16:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng))
    docs = [
        (i, t, rng.choice(LANGS), f"src{rng.randrange(8)}", len(t)) for i, t in enumerate(texts)
    ]
    vectors: list[list[float]] = []
    for _ in range(n_vectors):
        if vectors and rng.random() < 0.08:
            base = rng.choice(vectors)
            vectors.append(_unit([x + rng.gauss(0, 0.02) for x in base]))
        else:
            vectors.append(_unit([rng.gauss(0, 1) for _ in range(DIM)]))
    emb = [(i, v, rng.randrange(5)) for i, v in enumerate(vectors)]
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(docs, TESTDATA["documents"]).coalesce(1).write.parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    spark.createDataFrame(emb, TESTDATA["embeddings"]).coalesce(1).write.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    return {"docs": n_docs, "distinct_texts": len(set(texts)), "vectors": n_vectors}


def probe_curation(spark: SparkSession, work: str, seed: int, scale: str, tracer: Tracer):
    """Per-layer times of the curation layers; returns (metrics, checks)."""
    sf_dir = os.path.join(work, "corpus")
    planted = write_corpus(spark, sf_dir, *SIZES[scale], seed)
    out: dict[str, float] = {}
    with tracer.span("readers.load"):
        t0 = time.perf_counter()
        rows = (load_table(spark, sf_dir, "documents").count(), load_table(spark, sf_dir, "embeddings").count())
        out["readers.load_s"] = time.perf_counter() - t0
    checks = [Check("corpus.rows", rows == (planted["docs"], planted["vectors"]), f"{rows} vs {planted}")]
    for q in QUERIES:
        with tracer.span(f"query.{q}"):
            t0 = time.perf_counter()
            force(registry.get(q).spark(spark, sf_dir))
            out[f"query.{q}_s"] = time.perf_counter() - t0
    with tracer.span("curation"):
        t0 = time.perf_counter()
        funnel = curate_corpus(spark, sf_dir).audit_counts()
        out["curation.wall_s"] = time.perf_counter() - t0
    out["curation.kept_docs"] = funnel["sharded"]
    stages = list(funnel.values())
    checks.append(
        Check(
            "curation.funnel",
            funnel["raw"] == planted["docs"]
            and funnel["exact_unique"] == planted["distinct_texts"]
            and all(a >= b for a, b in zip(stages, stages[1:])),
            f"{funnel} vs {planted}",
        )
    )
    differ = OracleDiffer(spark, sf_dir)
    for q in QUERIES:
        r = differ.run(q)
        checks.append(Check(f"oracle.{q}", r.ok, "; ".join(m.detail for m in r.mismatches[:2])))
    return out, checks

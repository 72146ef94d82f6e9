"""llm_corpus: alternating cycles of ``build_corpus`` and a vector round.

``build_corpus`` runs with the arguments of bench.py's corpus_e2e_200k
entry over seeded token documents with planted near-duplicates; the
vector round is ``semantic_dedup_ann_gemm`` plus
``semantic_decontaminate_arrow`` over seeded 64-dim vectors with planted
pairs and twins.  The CDC layers do no work here.  The engine keeps its
pinned blocks across cycles, as it would in a long-lived session; the
benchmark releases none of them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import host
import inputs
import oracle
from harness import Run, median
from metrics import CORPUS_STAGES

N_DOCS = 4000
N_VEC = 50_000
WARM_CYCLES = 2
CYCLE_S = 6.3  # one cycle on a 4-core host: sizes the measured phase
SETUP_LOADS = 3
# bench.py corpus_e2e_200k: the rule band fitted to the synthetic vocabulary
RULES = {"min_tokens": 60, "mean_token_len": (5.70, 5.85), "min_distinct_ratio": 0.9}
BUILD_ARGS = {"minhash_threshold": 0.5, "span_hashed": True, "pack_strategy": "nfd"}
ANN_ARGS = {"t_num": 4, "t_den": 5, "n_buckets": 64, "probes": 2}
DECONTAM_THRESHOLD = 0.9


def run(r: Run) -> tuple[float, float]:
    docs = inputs.documents(r.seed, N_DOCS)
    vecs = inputs.vectors(r.seed, N_VEC)
    r.info["input_digests"].update(
        documents=inputs.table_digest({"documents": docs}),
        vectors=inputs.table_digest({"vectors": vecs}),
    )
    r.info["sizes"] = {"docs": N_DOCS, "vectors": N_VEC, "ann": ANN_ARGS}
    doc_path = os.path.join(r.work, "documents.parquet")
    vec_path = os.path.join(r.work, "vectors.parquet")
    pq.write_table(docs, doc_path)
    pq.write_table(vecs, vec_path)
    doc_pairs = inputs.planted_doc_pairs(N_DOCS)
    vec_pairs = inputs.planted_vec_pairs(N_VEC)
    # the frozen eval set, taken from the generated arrays, not the engine
    emb = vecs.column("embedding").combine_chunks().flatten().to_numpy().reshape(N_VEC, -1)
    heads = np.arange(inputs.EVAL_EVERY - 2, N_VEC, inputs.EVAL_EVERY)
    eval_rows = [(int(i), emb[i].astype(float).tolist()) for i in heads]

    r.mark("inputs")
    start_s = r.start()
    r.mark("session")
    from pyspark.sql import functions as F

    from cdc_demo_spark.operators.ann_scale import semantic_dedup_ann_gemm
    from cdc_demo_spark.operators.corpus_pipeline import assert_corpus_invariants, build_corpus
    from cdc_demo_spark.operators.similarity import semantic_decontaminate_arrow

    setup = []
    for _ in range(SETUP_LOADS):
        t0 = time.perf_counter()
        with r.tracer.span("setup.load_inputs"):
            r.spark.read.parquet(doc_path).count()
            r.spark.read.parquet(vec_path).count()
        setup.append(time.perf_counter() - t0)
    r.info["setup_loads_s"] = setup
    r.mark("setup")

    def build():
        df = r.spark.read.parquet(doc_path)
        return r.call("corpus_pipeline.build_corpus", build_corpus, df, rules=RULES, **BUILD_ARGS)

    def vector_round():
        corpus = r.spark.read.parquet(vec_path)
        clusters = r.call(
            "ann_scale.semantic_dedup_ann_gemm",
            lambda: semantic_dedup_ann_gemm(corpus, **ANN_ARGS).select("vec_id", "cluster_id").collect(),
        )
        pool = corpus.filter(F.col("vec_id") % inputs.EVAL_EVERY != inputs.EVAL_EVERY - 2)
        flagged = r.call(
            "similarity.semantic_decontaminate_arrow",
            lambda: semantic_decontaminate_arrow(pool, eval_rows, DECONTAM_THRESHOLD)
            .filter("contaminated").select("vec_id", "nearest_eval_id").collect(),
        )
        return clusters, flagged

    for _ in range(WARM_CYCLES):
        with r.tracer.span("warmup.cycle"):
            build()
            vector_round()

    ledgers, recalls, cycles = [], [], []
    r.mark("warmup")
    window = host.HostWindow(r.tree)
    t_start = time.perf_counter()
    for i in range(r.units(CYCLE_S, minimum=2)):
        with r.timed("build_corpus", i=i):
            res = build()
        try:
            assert_corpus_invariants(res)
        except AssertionError as e:
            r.check(False, f"cycle {i}: corpus invariants: {e}")
        kept = {x[0] for x in res["final_docs"].select("doc_id").collect()}
        both = oracle.planted_pairs_split(doc_pairs, kept)
        r.check(both == 0, f"cycle {i}: {both} planted doc pairs kept both members")
        ledgers.append(res["ledger"])
        if r.trace:
            found = {(x[0], x[1]) for x in res["pairs"].select("id_a", "id_b").collect()}
            recalls.append(sum(1 for p in doc_pairs if p in found) / len(doc_pairs))

        with r.timed("vector_round", i=i):
            clusters, flagged = vector_round()
        share = oracle.clustered_share(vec_pairs, {x[0]: x[1] for x in clusters})
        r.check(share >= 0.99, f"cycle {i}: dedup clustered {share:.4f} of planted pairs")
        r.check(
            oracle.decontam_exact({x[0]: x[1] for x in flagged}, N_VEC, inputs.EVAL_EVERY),
            f"cycle {i}: decontamination flagged {len(flagged)} rows, not exactly the planted twins",
        )
        cycles.append(r.samples["build_corpus"][-1] + r.samples["vector_round"][-1])
    t_end = time.perf_counter()
    r.info["host"] = window.close()
    r.mark("measured")
    r.info["ledgers"] = ledgers

    builds, rounds = r.samples["build_corpus"], r.samples["vector_round"]
    r.report("setup_s", start_s + median(setup), "s", e2e=True)
    r.report("throughput_per_s", (N_DOCS + N_VEC) * len(cycles) / sum(cycles), "1/s", e2e=True)
    r.report("latency_p50_s", median(cycles), "s", e2e=True)
    r.report_tail("latency_tail_s", cycles, e2e=True)
    r.report("corpus_docs_per_s", N_DOCS * len(builds) / sum(builds), "1/s")
    r.report("vectors_per_s", N_VEC * len(rounds) / sum(rounds), "1/s")
    r.layer["session.start_s"] = start_s

    if r.trace:
        bspans = r.spans("corpus_pipeline.build_corpus")
        dspans = r.spans("ann_scale.semantic_dedup_ann_gemm")
        cspans = r.spans("similarity.semantic_decontaminate_arrow")
        measured = [x for x in bspans if x["start"] + r.t_origin >= t_start]
        dmeas = [x for x in dspans if x["start"] + r.t_origin >= t_start]
        cmeas = [x for x in cspans if x["start"] + r.t_origin >= t_start]
        pre = "operators.corpus_pipeline."
        for st in CORPUS_STAGES:
            r.layer[f"{pre}{st}_s"] = median([led[st]["secs"] for led in ledgers])
        r.layer.update({
            f"{pre}jobs_per_build": median([x["jobs"] for x in measured]),
            f"{pre}cpu_s": median([x["executorCpuTime"] / 1e9 for x in measured]),
            f"{pre}gc_s": median([x["jvmGcTime"] / 1e3 for x in measured]),
            f"{pre}shuffle_bytes": median([x["shuffleWriteBytes"] for x in measured]),
            f"{pre}spill_bytes": median(
                [x["memoryBytesSpilled"] + x["diskBytesSpilled"] for x in measured]
            ),
            f"{pre}neardup_recall": median(recalls),
            "operators.ann_scale.dedup_s": median([x["dur"] for x in dmeas]),
            "operators.ann_scale.cpu_s": median([x["executorCpuTime"] / 1e9 for x in dmeas]),
            "operators.ann_scale.python_worker_cpu_s": median(
                [x["python_worker_cpu_s"] for x in dmeas]
            ),
            "operators.similarity.decontam_s": median([x["dur"] for x in cmeas]),
        })
    return t_start, t_end

"""Curation workload: a fixed set of ``queries()`` entries over the
single-split layout (one parquet file per table), each forced with the noop
sink. It touches no crawl layer.

The set keeps one query per curation operator family that the sf1.0
single-file layout stresses: exact-substring spans and boilerplate lines
(``operators.textdedup``), SemDeDup (``operators.semdedup``) and the bigram LM
(``operators.lmquality``, inside the CCNet composition with its
materialise-once ``kept`` subtree). ``lm_perplexity`` repeats the CCNet LM
stages. ``minhash_neardups_md5`` (4.4 s at 3k docs on 4 cores),
``gopher_repetition``, ``dedup_components`` and the all-pairs embedding
queries are left out: a run cannot afford them and stay steady.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from perfbench import env, gen
from perfbench.trace import Tracer, spark_window

QUERIES = (
    "ccnet_pipeline",
    "dup_ngram_spans",
    "semdedup",
    "boilerplate_removal",
)
#: the embeddings query reads vectors, every other query reads documents
READS_VECTORS = {"semdedup"}
DOCS = 2_500
VECTORS = 1_200
#: measured wall of one pass over the set on a 4-core machine; with
#: ``--seconds`` it fixes the number of timed passes
NOMINAL_PASS_S = 8.0
MIN_PASSES = 2
SETUP_REPS = 3


def passes_for(seconds: int) -> int:
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S))


def prepare(seed: int, sf_dir: str) -> None:
    gen.write_documents(sf_dir, DOCS, seed)
    gen.write_embeddings(sf_dir, VECTORS, seed)


def query_fingerprint(df) -> tuple[int, int]:
    """(rows, order-insensitive hash) of a query's full output."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def run(spark, seed: int, seconds: int, trace: bool, ctx):
    import __spark_entry__ as entry

    res = ctx.result
    qs = entry.queries()
    prep_s = []
    for i in range(SETUP_REPS):
        sf_dir = os.path.join(ctx.run_dir, f"sf{i}")
        prep_s.append(env.timed(prepare, seed, sf_dir)[0])

    # warm-up: one untimed pass that also fingerprints every query's output
    inputs_id = gen.digest(DOCS, VECTORS)
    t0 = time.perf_counter()
    for q in QUERIES:
        fp = query_fingerprint(qs[q](spark, sf_dir))
        key = f"curation|{inputs_id}|{seed}|{q}"
        res.check(f"{q} fingerprint", ctx.fingerprints.check(key, f"{fp[0]}:{fp[1]}"))
    warmup_s = time.perf_counter() - t0
    res.layer["setup.prepare_s"] = statistics.median(prep_s)
    res.layer["setup.warmup_s"] = warmup_s
    res.setup_s = ctx.session_s + statistics.median(prep_s) + warmup_s

    rows_per_pass = sum(VECTORS if q in READS_VECTORS else DOCS for q in QUERIES)
    walls: dict[str, list[float]] = {q: [] for q in QUERIES}
    pass_walls = []
    baseline = env.cached_rdds(spark)
    for _ in range(passes_for(seconds)):
        p0 = time.perf_counter()
        for q in QUERIES:
            t, _ = env.timed(res.attempt, q, lambda: env.noop(qs[q](spark, sf_dir)))
            walls[q].append(t)
            leaks, baseline = env.leak_check(spark, baseline)
            res.check(f"{q} cache", leaks)
        pass_walls.append(time.perf_counter() - p0)
    res.peak_rss_mb = env.peak_rss_bytes() / 1e6

    per_query = {q: statistics.median(w) for q, w in walls.items()}
    res.wall_s = statistics.median(pass_walls)
    res.rows_per_s = rows_per_pass / res.wall_s
    res.layer.update(
        {
            "curation.batch_s": res.wall_s,
            "curation.query_p50_s": statistics.median(per_query.values()),
            "curation.query_max_s": max(per_query.values()),
        }
    )
    for q, t in per_query.items():
        res.layer[f"q.{q}_s"] = t

    if trace:
        tracer = Tracer(f"curation-{seed}")
        with tracer.span("pass") as pass_span:
            for q in QUERIES:
                with tracer.span(q):
                    env.noop(qs[q](spark, sf_dir))
        steps = tracer.children(pass_span.id)
        counters = [spark_window(spark, sp.start, sp.end, ctx.cores) for sp in steps]
        for k in counters[0]:
            res.layer[k] = statistics.median(c[k] for c in counters)
        attributed = sum(sp.dur for sp in steps)
        res.layer["trace.attributed_ratio"] = attributed / pass_span.dur
        res.layer["trace.unattributed_s"] = pass_span.dur - attributed
        res.layer["trace.overhead_s"] = tracer.overhead_s / len(QUERIES)
        ctx.keep_spans(tracer)
    return res

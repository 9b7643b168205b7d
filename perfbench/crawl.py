"""Crawl workload ``crawl_backlog``: a multi-round crawl driven through
``run_crawl``.

A small live web, every page of it seeded, plus a standing backlog of URLs
on the same hosts, ranked below every live page, with a low per-host budget.
Each round reads, gates and ranks the whole backlog and fetches ~8 pages per
host, so of the layers the round calls, the live-frontier read, the robots
gate and the politeness rank cost more than fetching. The last timed round
folds the store.

The timed run calls ``run_crawl`` once per round and times it from outside.
The traced run does the same, then pins each round's inputs from committed
state and re-invokes each layer's public function on them with the noop sink,
to get the layer's own time (see ``_replay_round``).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import functions as F

from perfbench import checks, env, gen
from perfbench.trace import Tracer, spark_window


@dataclass(frozen=True)
class CrawlSpec:
    web_docs: int
    backlog_rows: int
    max_per_host: int
    round_duration_ms: int
    compact_every: int
    #: measured round wall on a 4-core machine; with ``--seconds`` it sets
    #: how many rounds a run times, so two commits always do the same work
    nominal_round_s: float
    num_buckets: int = 8
    n_salts: int = 4


SPEC = CrawlSpec(
    web_docs=12_000,
    backlog_rows=240_000,
    max_per_host=8,
    round_duration_ms=30_000,
    compact_every=2,
    nominal_round_s=11.0,
)
MIN_ROUNDS = 2
SETUP_REPS = 2
#: seed URLs crawled for one round on the throwaway warm-up store
WARMUP_SEEDS = 300


def rounds_for(spec: CrawlSpec, seconds: int) -> int:
    return max(MIN_ROUNDS, round(seconds / spec.nominal_round_s))


def crawl_config(spec: CrawlSpec, max_doc_id: int):
    from web_crawling_prj_spark.plans.crawl_round import CrawlConfig

    cfg = CrawlConfig(
        num_buckets=spec.num_buckets,
        n_salts=spec.n_salts,
        max_per_host=spec.max_per_host,
        default_budget=spec.max_per_host,
        round_duration_ms=spec.round_duration_ms,
        compact_every=spec.compact_every,
    )
    cfg.extra["max_doc_id"] = max_doc_id
    return cfg


@dataclass
class Inputs:
    pages: object
    robots: object
    seeds: object
    max_doc_id: int


def prepare(spark, spec: CrawlSpec, seed: int, web_dir: str) -> Inputs:
    """Generate the web for ``seed`` and materialise the page store."""
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df

    # the page count varies with the seed, which moves every pmod(…, n) link
    # target: each seed crawls a different link graph. The variation stays
    # under 1% of the web, so seeds differ in graph, not in amount of work
    n = spec.web_docs + seed % 97
    gen.write_documents(web_dir, n, seed)
    pages = pages_df(spark, web_dir).persist()
    pages.count()
    robots = robots_df(spark).persist()
    robots.count()
    # every page is a seed (its ~2% non-canonical aliases included), so no
    # host runs out of live pages within the timed rounds and reaches into
    # the backlog
    seeds = pages.select("url", "priority", F.lit(0).alias("depth")).unionByName(
        gen.backlog_df(spark, spec.backlog_rows, n, seed)
    )
    return Inputs(pages, robots, seeds, n)


def run(spark, seed: int, seconds: int, trace: bool, ctx):
    from web_crawling_prj_spark.plans.crawl_round import crawl_store, live_frontier, run_crawl

    spec = SPEC
    rounds = rounds_for(spec, seconds)
    res = ctx.result

    # warm-up: the first prepare starts the Python workers and a one-round
    # crawl on a throwaway store compiles the round's code paths; the
    # prepares after it run warm
    t0 = time.perf_counter()
    inputs = prepare(spark, spec, seed, os.path.join(ctx.run_dir, "web0"))
    cfg = crawl_config(spec, inputs.max_doc_id)
    warm = crawl_store(os.path.join(ctx.run_dir, "warmup"), cfg)
    run_crawl(spark, warm, inputs.pages, inputs.robots, inputs.seeds.limit(WARMUP_SEEDS), rounds=1, cfg=cfg)
    warmup_s = time.perf_counter() - t0
    prep_s = []
    for i in range(1, SETUP_REPS + 1):
        inputs.pages.unpersist(blocking=True)
        inputs.robots.unpersist(blocking=True)
        t, inputs = env.timed(prepare, spark, spec, seed, os.path.join(ctx.run_dir, f"web{i}"))
        prep_s.append(t)
    res.layer["setup.prepare_s"] = statistics.median(prep_s)
    res.layer["setup.warmup_s"] = warmup_s
    res.setup_s = ctx.session_s + warmup_s + statistics.median(prep_s)

    tracer = Tracer(f"crawl_backlog-{seed}") if trace else None
    store = crawl_store(os.path.join(ctx.run_dir, "store"), cfg)
    walls, live_rows, fetched = [], [], 0
    baseline = env.cached_rdds(spark)
    layer_rows: list[dict] = []
    t, ingested = env.timed(
        res.attempt, "seed ingest", run_crawl, spark, store, inputs.pages, inputs.robots,
        inputs.seeds, rounds=0, cfg=cfg,
    )
    res.layer["crawl.seed_ingest_s"] = t
    if ingested is None:
        rounds = 0
    if tracer is not None:
        res.layer.update(_replay_ingest(spark, store, inputs))
        baseline = env.cached_rdds(spark)
        _wrap_eager_calls(tracer)
    try:
        for r in range(1, rounds + 1):
            live_rows.append(live_frontier(spark, store, r - 1, cfg).count())
            span = tracer.span("round", round=r) if tracer else contextlib.nullcontext()
            w0 = time.time()
            with span as sp:
                t, stats = env.timed(
                    res.attempt, f"round {r}", run_crawl, spark, store, inputs.pages,
                    inputs.robots, inputs.seeds, rounds=r, cfg=cfg,
                )
            w1 = time.time()
            if stats is None:
                break
            walls.append(t)
            fetched += sum(s["scheduled"] for s in stats)
            leaks, baseline = env.leak_check(spark, baseline)
            res.check(f"round {r} cache", leaks)
            if tracer is not None:
                row = spark_window(spark, w0, w1, ctx.cores)
                row.update(_replay_round(spark, store, inputs, cfg, r, tracer))
                row["reports.render_s"] = _child_time(tracer, sp.id, "reports.render")
                row["statestore.fold_s"] = _child_time(tracer, sp.id, "statestore.fold")
                attributed = row.pop("_attributed") + row["reports.render_s"] + row["statestore.fold_s"]
                row["statestore.fold_bytes"] = sum(
                    env.dir_bytes(d)[0] for d in glob.glob(os.path.join(store.root, "*__base", f"upto={r:06d}"))
                )
                row["trace.attributed_ratio"] = attributed / t
                row["trace.unattributed_s"] = t - attributed
                layer_rows.append(row)
                baseline = env.cached_rdds(spark)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    res.peak_rss_mb = env.peak_rss_bytes() / 1e6

    if walls:
        wall = sum(walls)
        res.wall_s = wall
        res.rows_per_s = sum(live_rows[: len(walls)]) / wall
        res.layer.update(
            {
                "crawl.rounds": len(walls),
                "crawl.crawl_wall_s": wall,
                "crawl.round_p50_s": statistics.median(walls),
                "crawl.round_max_s": max(walls),
                "crawl.fetched_per_s": fetched / wall,
                "crawl.frontier_rows_per_s": res.rows_per_s,
                "crawl.state_mb": env.dir_bytes(store.root)[0] / 1e6,
            }
        )
        fp_key = f"crawl_backlog|{gen.digest(spec)}|{seed}|{rounds}"
        _check_outputs(spark, store, inputs, cfg, fp_key, ctx, res)
    if layer_rows:
        for k in layer_rows[0]:
            # fold metrics per folding round: most rounds do not fold
            vals = [r[k] for r in layer_rows if r[k] or not k.startswith("statestore.fold")]
            res.layer[k] = statistics.median(vals) if vals else 0.0
        res.layer["trace.overhead_s"] = tracer.overhead_s / len(layer_rows)
        ctx.keep_spans(tracer)
    return res


def _child_time(tracer: Tracer, sid: int, name: str) -> float:
    return sum(c.dur for c in tracer.children(sid) if c.name == name)


def _wrap_eager_calls(tracer: Tracer) -> None:
    """Spans around the engine's eager calls inside a round: the fold and the
    run-artifact render each run their own jobs to completion when called."""
    import web_crawling_prj_spark.plans.reports as reports
    from web_crawling_prj_spark.plans.statestore import StateStore

    tracer.wrap(StateStore, "compact", "statestore.fold")
    tracer.wrap(reports, "render_run_artifact", "reports.render")


# --- traced-run layer replays -----------------------------------------------


def _pin(df):
    return df.localCheckpoint(eager=True)


def _noop_s(df) -> float:
    return env.timed(env.noop, df)[0]


def _replay_ingest(spark, store, inputs: Inputs) -> dict:
    from web_crawling_prj_spark.functions.urls import (
        canonicalize_urls_hybrid,
        is_canonical_fast,
        strip_tracking_params,
    )

    seeds = _pin(inputs.seeds)
    rows_in = seeds.count()
    stripped = _pin(seeds.withColumn("_c", strip_tracking_params(F.col("url"))))
    fast = stripped.where(is_canonical_fast("_c")).count()
    return {
        "urls.canon_s": _noop_s(canonicalize_urls_hybrid(stripped, "_c", "url_canon")),
        "urls.fastpath_ratio": fast / max(rows_in, 1),
        "crawl_round.seed_rows_in": rows_in,
        "crawl_round.seed_rows_out": store.read_round(spark, "frontier_log", 0).count(),
    }


def round_budgets(spark, store, robots, cfg, r):
    """Per-host budgets and open-circuit hosts for round ``r``, from the
    committed host state of round r-1 (half-open hosts get one probe)."""
    from web_crawling_prj_spark.operators.politeness import host_budgets

    ts = F.lit(cfg.round_ts(r)).cast("timestamp")
    budgets = host_budgets(robots, cfg.round_duration_ms, max_per_host=cfg.max_per_host)
    if r == 1 or not store.has_table("host_state", r - 1):
        return budgets, None
    tripped = store.read_round(spark, "host_state", r - 1).where(F.col("quarantined_until").isNotNull())
    half = tripped.where(F.col("quarantined_until") <= ts).select("host", F.lit(True).alias("_ho"))
    budgets = (
        budgets.join(half, "host", "full_outer")
        .withColumn("max_per_round", F.when(F.col("_ho"), F.lit(1)).otherwise(F.col("max_per_round")))
        .drop("_ho")
    )
    return budgets, tripped.where(F.col("quarantined_until") > ts).select("host")


def _replay_round(spark, store, inputs: Inputs, cfg, r: int, tracer: Tracer) -> dict:
    """Re-invoke each layer of round ``r`` on inputs pinned from committed
    state, each forced with the noop sink; returns per-layer metrics and the
    summed self time under ``_attributed``. The dedup replay ranks this
    round's candidates (retries and discoveries) without the incumbent live
    rows the round also probes."""
    from web_crawling_prj_spark.functions.text import extract_text_udf
    from web_crawling_prj_spark.operators.dedup import anti_join_seen_layered, dedup_within_batch
    from web_crawling_prj_spark.operators.fetch import discover_outlinks, synthetic_fetch
    from web_crawling_prj_spark.operators.politeness import schedule_round
    from web_crawling_prj_spark.operators.retry import update_circuit_state
    from web_crawling_prj_spark.operators.robots import gate_frontier_flagged
    from web_crawling_prj_spark.plans.crawl_round import FRONTIER_COLS, crawl_store, pending_frontier

    m: dict[str, float] = {}
    times: dict[str, float] = {}

    def layer(name, df):
        with tracer.span(name, round=r):
            times[name] = _noop_s(df)

    with tracer.span("replay", round=r):
        pending, _deferred, _ = pending_frontier(spark, store, r, cfg, bcasts=[])
        layer("statestore.live_read_s", pending)
        bases, deltas = store.read_parts(spark, "frontier_log", up_to=r - 1)
        m["statestore.read_dirs"] = len(bases) + len(deltas)
        pending = _pin(pending)
        m["statestore.live_rows"] = pending.count()

        layer("robots.gate_s", gate_frontier_flagged(pending, inputs.robots))
        flagged = _pin(gate_frontier_flagged(pending, inputs.robots))
        allowed = flagged.where(F.col("robots_allowed")).drop("robots_allowed")
        budgets, open_hosts = round_budgets(spark, store, inputs.robots, cfg, r)
        if open_hosts is not None:
            allowed = allowed.join(F.broadcast(open_hosts), "host", "left_anti")
        allowed = _pin(allowed)
        n_allowed = allowed.count()
        m["robots.allowed_ratio"] = n_allowed / max(m["statestore.live_rows"], 1)
        m["politeness.rows_in"] = n_allowed

        def rank():
            return schedule_round(
                allowed, budgets, n_salts=cfg.n_salts, default_budget=cfg.default_budget,
                tiebreak=cfg.schedule_tiebreak,
            )

        layer("politeness.rank_s", rank())
        sched = _pin(rank())
        per_host = sched.groupBy("host").count().agg(F.max("count"), F.sum("count")).first()
        m["politeness.max_host_share"] = (per_host[0] or 0) / max(per_host[1] or 0, 1)

        max_doc = cfg.extra["max_doc_id"]
        layer(
            "fetch.fetch_s",
            synthetic_fetch(
                sched, inputs.pages, r, cfg.round_ts(r), failure_per_mille=cfg.failure_per_mille,
                roll_mode=cfg.fetch_roll_mode, redirect_per_mille=cfg.redirect_per_mille,
                max_doc_id=max_doc,
            ),
        )
        html = _pin(
            sched.select("url_canon").join(
                inputs.pages.select(F.col("url").alias("url_canon"), "html"), "url_canon"
            )
        )
        layer("text.extract_s", html.select(extract_text_udf("html").alias("t")))

        log = _pin(store.read_round(spark, "fetch_log", r))
        m["fetch.pages"] = log.count()
        m["fetch.ok_ratio"] = log.where(F.col("error_class") == "ok").count() / max(m["fetch.pages"], 1)
        discovered = discover_outlinks(log, links_per_page=cfg.links_per_page, max_doc_id=max_doc)
        layer("fetch.discover_s", discovered)
        discovered = _pin(discovered)
        m["fetch.links"] = discovered.count()

        prev_state = store.read_round(spark, "host_state", r - 1) if store.has_table("host_state", r - 1) else None
        layer("retry.circuit_s", update_circuit_state(prev_state, log))

        retries = log.where(F.col("can_retry")).select(
            F.col("url_canon").alias("url"), "url_canon", "url_hash", "host", "priority", "depth",
            F.col("fetched_ts").alias("discovered_ts"), F.lit(None).cast("long").alias("src_url_hash"),
            "attempt", "next_eligible_ts",
        )
        cand = retries.unionByName(
            discovered.withColumns({"attempt": F.lit(0), "next_eligible_ts": F.lit(None).cast("timestamp")})
            .select(*FRONTIER_COLS)
        )
        n_cand = cand.count()
        prefer = [-F.coalesce(F.col("attempt"), F.lit(0)), -F.coalesce(F.col("priority"), F.lit(0.0))]

        def winners_of():
            return dedup_within_batch(cand.repartition(cfg.num_buckets, "url_hash"), key="url_hash", prefer=prefer)

        layer("dedup.winners_s", winners_of())
        winners = _pin(winners_of())
        seen_bases, seen_deltas = store.read_parts(spark, "seen_delta", up_to=r)
        adds = anti_join_seen_layered(winners, [*seen_bases, *seen_deltas])
        layer("dedup.seen_filter_s", adds)
        m["dedup.adds_ratio"] = adds.count() / max(n_cand, 1)

        tables = {t: _pin(store.read_round(spark, t, r)) for t in store.manifest(r)["tables"]}
        probe = crawl_store(os.path.join(store.root + "_commit_probe"), cfg)
        with tracer.span("statestore.commit_write_s", round=r):
            times["statestore.commit_write_s"] = env.timed(probe.commit_round, r, tables)[0]
        m["statestore.bytes_written"], m["statestore.files"] = env.dir_bytes(probe.root)
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {probe._tbl_name(t, r)}")
        shutil.rmtree(probe.root, ignore_errors=True)

    m.update(times)
    # fetch.fetch_s includes the extract UDF the fetch runs: count it once
    m["_attributed"] = sum(times.values()) - times["text.extract_s"]
    return m


def _check_outputs(spark, store, inputs: Inputs, cfg, fp_key: str, ctx, res) -> None:
    from web_crawling_prj_spark.plans.crawl_round import live_frontier

    last = store.last_committed_round()
    log = store.read_all(spark, "fetch_log").select(
        "round_id", "host", "url_canon", "url_hash", "http_code", "error_class", "attempt"
    ).collect()

    robots = inputs.robots.collect()
    budgets = {
        row["host"]: checks.host_budget(row["crawl_delay_ms"], cfg.round_duration_ms, cfg.max_per_host)
        for row in robots
    }
    circuit: dict[int, dict[str, str]] = {}
    for r in range(2, last + 1):
        if store.has_table("host_state", r - 1):
            ts = datetime.fromisoformat(cfg.round_ts(r)).replace(tzinfo=timezone.utc).timestamp()
            tripped = store.read_round(spark, "host_state", r - 1).where(F.col("quarantined_until").isNotNull())
            for row in tripped.select("host", F.col("quarantined_until").cast("double").alias("q")).collect():
                circuit.setdefault(r, {})[row["host"]] = "open" if row["q"] > ts else "half_open"
    counts: dict[tuple[int, str], int] = {}
    for row in log:
        counts[(row["round_id"], row["host"])] = counts.get((row["round_id"], row["host"]), 0) + 1
    res.check("host budgets", checks.budget_violations(counts, budgets, cfg.default_budget, circuit))
    disallow = {row["host"]: list(row["disallow_prefixes"] or []) for row in robots}
    res.check(
        "robots",
        checks.robots_violations([(row["round_id"], row["host"], row["url_canon"]) for row in log], disallow),
    )
    res.check("once per round", checks.duplicate_fetches([(row["round_id"], row["url_hash"]) for row in log]))
    # the workload is only what it claims while the backlog stays unfetched
    backlog = [row["url_canon"] for row in log if checks.path_of(row["url_canon"]).startswith(gen.BACKLOG_PATH)]
    res.check("backlog never fetched", [f"{len(backlog)} backlog URLs fetched, e.g. {backlog[0]}"] if backlog else [])
    seen = store.read_all(spark, "seen_delta").select("url_hash")
    overlap = live_frontier(spark, store, last, cfg).join(seen, "url_hash", "left_semi").count()
    res.check("live view disjoint from seen-set", [f"{overlap} live rows are seen"] if overlap else [])
    fp = checks.fingerprint(log)
    res.check("fetch-log fingerprint", ctx.fingerprints.check(fp_key, fp))

"""The benchmark workloads. Each is a closed loop with one caller: the next
operation starts only after the previous one committed.

- crawl_polite: committed bloom-mode waves through `plans.job.run_job` at
  production politeness. Wave 1 (bootstrap) is set-up; the timed waves
  alternate a fresh page-id shard with a drain wave, starting with a shard.
- finalize: greedy `plans.dataset.write_training_set`, back to back, on a
  committed pairs_out table.

Both return a dict: set-up seconds, the timed operations (wall, items in,
items out, whether the output matched the reference) and the end-state check.
"""

from __future__ import annotations

import os
import statistics
import time

import inputs

CRAWL_SCALE = 4
CRAWL_SHARDS = 4  # 400 pages (≈5.4k links) per shard
FINALIZE_ROWS = 30_000
COMMIT_REPEATS = 3  # finalize's input commit runs this often; median kept
WARM_UP_ROWS = 1_000  # finalize's untimed first call runs on this many rows


def crawl_config(cfg_cls):
    """Production politeness (64 URLs/host/wave, 60 s waves) in bloom mode.
    The parsed bloom compacts every 2 deltas: each timed shard wave rewrites
    the base bits and each drain wave appends a key delta."""
    return cfg_cls(
        default_host_budget=64, wave_seconds=60.0, dedup_mode="bloom", bloom_compact_every=2
    )


def _wave_plan(n_shards: int):
    """Shard 0 (bootstrap), then shard 1, drain, shard 2, drain, …"""
    yield 0
    s = 1
    while True:
        if s < n_shards:
            yield s
            s += 1
        yield None


def crawl_polite(spark, ctx) -> dict:
    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.config import EngineConfig
    from crawlingathome_worker_spark.plans.job import run_job
    from crawlingathome_worker_spark.sources.bucketed import ensure_bucketed_pairs
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    sc = spark.sparkContext
    phases = {}
    t = time.perf_counter()
    scale, n_shards = CRAWL_SCALE, CRAWL_SHARDS
    fx = inputs.crawl_inputs(ctx.cache, scale, ctx.seed)
    bounds = inputs.shard_bounds(fx, n_shards)
    cfg = crawl_config(EngineConfig)

    phases["inputs"] = time.perf_counter() - t
    t0 = time.perf_counter()
    sc.setJobGroup("setup", "ingest + bootstrap wave")
    pairs = ensure_bucketed_pairs(spark, os.path.join(fx, "pairs.parquet"), buckets=32)
    phases["ingest"] = time.perf_counter() - t0
    links = spark.read.parquet(os.path.join(fx, "wat_links.parquet"))
    robots = spark.read.parquet(os.path.join(fx, "robots.parquet"))
    shards = [
        links.filter((F.col("page_id") >= lo) & (F.col("page_id") < hi)) for lo, hi in bounds
    ]
    wh = Warehouse(os.path.join(ctx.tmp, "warehouse"))
    plan_iter = _wave_plan(n_shards)
    plan: list[int | None] = []
    done = 0  # shards committed so far (run_job resumes past them)

    def wave(s):
        nonlocal done
        plan.append(s)
        if s is None:
            return run_job(spark, wh, cfg, shards[:done], pairs, robots, drain_waves=1)[0]
        done = s + 1
        return run_job(spark, wh, cfg, shards[:done], pairs, robots)[0]

    manifests = [wave(next(plan_iter))]
    setup_s = time.perf_counter() - t0
    phases["bootstrap"] = setup_s - phases["ingest"]

    ops = []
    t_end = time.perf_counter() + ctx.seconds
    while True:
        s = next(plan_iter)
        k = len(ops)
        sc.setJobGroup(f"op-{k}", f"timed wave {k}")
        t_call = time.time()
        t = time.perf_counter()
        try:
            m = wave(s)
        except Exception as e:  # an operation that raises is a failed one
            ops.append({"kind": "shard" if s is not None else "drain", "wall": time.perf_counter() - t,
                        "in": 0, "out": 0, "ok": False, "error": repr(e)})
            break
        wall = time.perf_counter() - t
        manifests.append(m)
        c = m["counters"]
        ops.append({
            "kind": "shard" if s is not None else "drain", "wall": wall,
            "in": c["scheduled"], "out": c["fetched_ok"], "ok": True,
            "group": f"op-{k}", "pool_group": f"wave-{m['snapshot_id']}", "t_call": t_call,
        })
        if time.perf_counter() >= t_end:
            break

    trace = None
    if ctx.trace:
        import layers as tr

        trace = tr.replay_crawl(spark, wh, cfg, pairs, robots, shards, done, ctx)

    # ---- correctness: every wave's counters, then the end state ----------
    sc.setJobGroup("check", "oracle comparison")
    t = time.perf_counter()
    ref = inputs.crawl_oracle(fx, cfg, plan[: len(manifests)], bounds)
    phases["oracle"] = time.perf_counter() - t
    boot_ok = manifests[0]["counters"] == ref["counters"][0]
    for i, op in enumerate(ops):
        if op["ok"]:
            op["ok"] = manifests[i + 1]["counters"] == ref["counters"][i + 1]
            if not op["ok"]:
                op["error"] = f"counters {manifests[i + 1]['counters']} != oracle {ref['counters'][i + 1]}"
    t = time.perf_counter()
    end = _crawl_end_state(spark, wh, cfg, ref)
    end["bootstrap_counters"] = boot_ok
    phases["end_check"] = time.perf_counter() - t
    return {"setup_s": setup_s, "ops": ops, "end_state": end, "trace": trace,
            "detail": {"scale": scale, "shards": n_shards, "plan": plan, "phases": phases,
                       "counters": [m["counters"] for m in manifests]}}


def _crawl_end_state(spark, wh, cfg, ref) -> dict:
    """Crawl order of pairs_out, the URL-seen set and the deferred frontier
    against the oracle."""
    from crawlingathome_worker_spark.plans.wave import FRONTIER_SCHEMA
    from crawlingathome_worker_spark.state.bloom import STATE_SCHEMA, bloom_add, bloom_filter_unseen

    latest = wh.latest()
    out = wh.read_table(spark, latest, "pairs_out").select("sample_id", "url")
    order = [[r["sample_id"], r["url"]] for r in out.orderBy("sample_id").collect()]
    frontier = wh.read_table(spark, latest, "frontier", FRONTIER_SCHEMA)
    f_rows = frontier.select("url", "pair_md5").collect()
    bloom = wh.read_table(spark, latest, "bloom_parsed", STATE_SCHEMA)
    if latest["tables"].get("bloom_parsed_delta"):
        deltas = wh.read_table(spark, latest, "bloom_parsed_delta", "pair_md5 string")
        bloom = bloom_add(bloom, deltas, cfg.bloom, key="pair_md5")
    # keys the bloom reports unseen, among the oracle's seen set and the
    # frontier's keys, must be exactly the frontier keys the oracle never saw
    # (a frontier key can also be seen: a failed fetch keeps its retry slot)
    seen = set(ref["seen"])
    frontier_keys = {r["pair_md5"] for r in f_rows}
    probe = spark.createDataFrame([(k,) for k in seen | frontier_keys], "pair_md5 string")
    unseen = {r["pair_md5"] for r in bloom_filter_unseen(probe, bloom, cfg.bloom).collect()}
    return {
        "crawl_order": order == ref["order"],
        "seen_set": unseen == frontier_keys - seen,
        "frontier": sorted(r["url"] for r in f_rows) == ref["frontier"],
    }


def finalize(spark, ctx) -> dict:
    import pyarrow.parquet as pq

    from crawlingathome_worker_spark.plans.dataset import write_training_set
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    sc = spark.sparkContext
    n_rows = FINALIZE_ROWS
    t0 = time.perf_counter()
    d, ref = inputs.finalize_inputs(ctx.cache, n_rows, ctx.seed)
    want = ref["stats"]
    phases = {"inputs": time.perf_counter() - t0}
    t0 = time.perf_counter()
    sc.setJobGroup("setup", "input commit + warm-up call")
    src = spark.read.parquet(os.path.join(d, "pairs_out.parquet"))

    def committed(name, df):
        wh = Warehouse(os.path.join(ctx.tmp, name))
        m = wh.new_manifest(None)
        m["tables"]["pairs_out"] = [wh.write_table(df, "pairs_out", m["snapshot_id"])]
        wh.commit(m)
        return wh

    commit = []
    for i in range(COMMIT_REPEATS):
        t = time.perf_counter()
        wh = committed(f"warehouse{i}", src)
        commit.append(time.perf_counter() - t)
    # warm-up: the first call in a process pays code generation and Python
    # worker start-up; it runs on a slice, untimed, and counts in set-up
    warm = committed("warm_up", src.filter(src.sample_id <= WARM_UP_ROWS))
    t = time.perf_counter()
    write_training_set(spark, warm, os.path.join(ctx.tmp, "warm_up_set"))
    phases["warm_up"] = time.perf_counter() - t
    setup_s = time.perf_counter() - t0 - sum(commit) + statistics.median(commit)
    out_path = os.path.join(ctx.tmp, "training_set")

    ops, stats = [], None
    t_end = time.perf_counter() + ctx.seconds
    while True:
        k = len(ops)
        sc.setJobGroup(f"op-{k}", f"timed finalize {k}")
        t_call = time.time()
        t = time.perf_counter()
        try:
            stats = write_training_set(spark, wh, out_path)
        except Exception as e:
            ops.append({"kind": "finalize", "wall": time.perf_counter() - t, "in": 0, "out": 0,
                        "ok": False, "error": repr(e)})
            break
        wall = time.perf_counter() - t
        sc.setJobGroup("check", "reference comparison")
        ids = sorted(pq.read_table(out_path, columns=["sample_id"]).column(0).to_pylist())
        got = {k2: stats[k2] for k2 in want}
        ok = got == want and ids == ref["final_ids"]
        ops.append({"kind": "finalize", "wall": wall, "in": stats["raw_rows"],
                    "out": stats["final_rows"], "ok": ok, "group": f"op-{k}", "t_call": t_call,
                    **({} if ok else {"error": f"stats {got} != reference {want}"})})
        if time.perf_counter() >= t_end:
            break

    trace = None
    if ctx.trace:
        import layers as tr

        trace = tr.replay_finalize(spark, wh, ctx)
    return {"setup_s": setup_s, "ops": ops,
            "end_state": {},
            "trace": trace,
            "detail": {"rows": n_rows, "phases": phases, "commit_s": commit, "stats": stats,
                       "reference": want, "near_pairs": ref["near_pairs"]}}


WORKLOADS = {"crawl_polite": crawl_polite, "finalize": finalize}

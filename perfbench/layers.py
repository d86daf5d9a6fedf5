"""Traced run: per-layer numbers, measured from outside the program.

Two sources:

- a replay of one operation's layer chain on materialized inputs. Each layer
  call runs under its own Spark job group `layer:<name>` and is timed around
  the call, so its wall is the layer's self time;
- Spark's event log (enabled at launch for the traced run only), parsed per
  job group for task time, scheduling residual, shuffle bytes, spill, GC and
  task skew.

Every per-layer metric is emitted for every workload; a layer the workload
does not run reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

CORES = 4

# name -> (unit, better); the order is the order of the printed table
PER_LAYER = {
    "plans.wave.jobs": ("count", "lower"),
    "plans.wave.stages": ("count", "lower"),
    "plans.wave.prep_s": ("s", "lower"),
    "plans.wave.sched_residual_s": ("s", "lower"),
    "plans.wave.core_util": ("ratio", "higher"),
    "plans.wave.overlap_s": ("s", "higher"),
    "operators.parse.self_s": ("s", "lower"),
    "operators.parse.task_s": ("s", "lower"),
    "operators.parse.rows_out": ("count", "higher"),
    "operators.fetch.self_s": ("s", "lower"),
    "operators.fetch.task_s": ("s", "lower"),
    "operators.fetch.shuffle_mb": ("MB", "lower"),
    "operators.fetch.ok_ratio": ("ratio", "higher"),
    "operators.politeness.self_s": ("s", "lower"),
    "operators.politeness.task_skew": ("ratio", "lower"),
    "operators.politeness.sched_ratio": ("ratio", "higher"),
    "operators.schedule.self_s": ("s", "lower"),
    "operators.schedule.jobs": ("count", "lower"),
    "state.bloom.gate_s": ("s", "lower"),
    "state.bloom.fold_s": ("s", "lower"),
    "state.bloom.shuffle_mb": ("MB", "lower"),
    "state.bloom.unseen_ratio": ("ratio", "higher"),
    "state.bloom.state_mb": ("MB", "lower"),
    "state.cuckoo.update_s": ("s", "lower"),
    "state.snapshots.write_s": ("s", "lower"),
    "state.snapshots.write_mb": ("MB", "lower"),
    "state.snapshots.commit_s": ("s", "lower"),
    "plans.dataset.self_s": ("s", "lower"),
    "operators.imagededup.self_s": ("s", "lower"),
    "operators.imagededup.cand_pairs": ("count", "lower"),
    "operators.imagededup.pair_yield": ("ratio", "higher"),
    "operators.imagededup.task_skew": ("ratio", "lower"),
    "operators.textdedup.self_s": ("s", "lower"),
    "operators.textdedup.pair_yield": ("ratio", "higher"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.op_s_p50": ("s", "lower"),
}


class _Spans:
    """Times each layer call under its own job group."""

    def __init__(self, sc):
        self.sc = sc
        self.self_s: dict[str, float] = {}

    def __call__(self, name, fn):
        self.sc.setJobGroup(f"layer:{name}", name)
        t = time.perf_counter()
        out = fn()
        self.self_s[name] = self.self_s.get(name, 0.0) + time.perf_counter() - t
        self.sc.setJobGroup("layer:inputs", "replay inputs")
        return out


def _mat(df):
    """Persist and count: the frame is materialized when this returns."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def _du_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def replay_crawl(spark, wh, cfg, pairs, robots, shards, done, ctx) -> dict:
    """One shard wave's layer chain on the committed state of `wh`, written
    to a scratch warehouse (the benchmark's warehouse is only read)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.operators.fetch import (
        classify_and_score,
        output_rows,
        simulated_fetch,
    )
    from crawlingathome_worker_spark.operators.parse import parse_links
    from crawlingathome_worker_spark.operators.politeness import politeness_split, robots_gate
    from crawlingathome_worker_spark.operators.schedule import assign_sample_ids
    from crawlingathome_worker_spark.plans.wave import FRONTIER_SCHEMA
    from crawlingathome_worker_spark.state.bloom import STATE_SCHEMA as BLOOM_SCHEMA
    from crawlingathome_worker_spark.state.bloom import bloom_add, seen_gate_bloom
    from crawlingathome_worker_spark.state.cuckoo import STATE_SCHEMA as CUCKOO_SCHEMA
    from crawlingathome_worker_spark.state.cuckoo import cuckoo_update
    from crawlingathome_worker_spark.state.snapshots import Warehouse

    sc = spark.sparkContext
    span = _Spans(sc)
    sc.setJobGroup("layer:inputs", "replay inputs")
    parent = wh.latest()
    wave_no = parent["wave_no"] + 1
    shard, _ = _mat(shards[done % len(shards)])
    frontier, _ = _mat(wh.read_table(spark, parent, "frontier", FRONTIER_SCHEMA))
    new, rows_out = span(
        "operators.parse",
        lambda: _mat(parse_links(shard, cfg).withColumn("wave_added", F.lit(wave_no))),
    )
    w = Window.partitionBy("canonical_url").orderBy("wave_added", "page_id", "pos")
    cands, n_cands = _mat(
        frontier.unionByName(new)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    bloom_c = wh.read_table(spark, parent, "bloom_clipped", BLOOM_SCHEMA)
    bloom_p = wh.read_table(spark, parent, "bloom_parsed", BLOOM_SCHEMA)
    if parent["tables"].get("bloom_parsed_delta"):
        deltas = wh.read_table(spark, parent, "bloom_parsed_delta", "pair_md5 string")
        bloom_p = bloom_add(bloom_p, deltas, cfg.bloom, key="pair_md5")
    bloom_p = bloom_p.localCheckpoint(eager=True)
    cuckoo, _ = _mat(wh.read_table(spark, parent, "cuckoo_state", CUCKOO_SCHEMA))
    unseen, n_unseen = span(
        "state.bloom.gate",
        lambda: _mat(
            seen_gate_bloom(cands, bloom_c, bloom_p, cuckoo, cfg.bloom, cfg.cuckoo, key="pair_md5")
        ),
    )

    def polite():
        sched, deferred = politeness_split(robots_gate(unseen, robots, cfg), wave_no, cfg)
        return _mat(sched) + _mat(deferred)

    sched, n_sched, _, n_deferred = span("operators.politeness", polite)
    ided, _ = span(
        "operators.schedule", lambda: _mat(assign_sample_ids(sched, parent["next_sample_id"]))
    )
    classified, _ = span(
        "operators.fetch", lambda: _mat(classify_and_score(simulated_fetch(ided, pairs), cfg))
    )
    n_ok = classified.filter(F.col("fetch_status") == "ok").count()
    keys = classified.select("pair_md5")
    span(
        "state.bloom.fold",
        lambda: bloom_add(bloom_p, keys, cfg.bloom, key="pair_md5").localCheckpoint(eager=True),
    )
    failed = F.col("fetch_status") == "error"
    span(
        "state.cuckoo",
        lambda: _mat(
            cuckoo_update(
                cuckoo,
                inserts=classified.filter(failed).select("pair_md5"),
                deletes=classified.filter(~failed).select("pair_md5"),
                params=cfg.cuckoo,
            )
        ),
    )
    scratch = Warehouse(os.path.join(ctx.tmp, "replay_warehouse"))
    manifest = scratch.new_manifest(None)
    rel = span(
        "state.snapshots.write",
        lambda: scratch.write_table(
            output_rows(classified).orderBy("sample_id"), "pairs_out", 0
        ),
    )
    manifest["tables"]["pairs_out"] = [rel]
    span("state.snapshots.commit", lambda: scratch.commit(manifest))
    bloom_dirs = wh.table_paths(parent, "bloom_parsed") + wh.table_paths(
        parent, "bloom_parsed_delta"
    )
    return {
        "self_s": span.self_s,
        "counts": {
            "rows_out": rows_out,
            "candidates": n_cands,
            "unseen": n_unseen,
            "scheduled": n_sched,
            "deferred": n_deferred,
            "fetched_ok": n_ok,
        },
        "write_mb": _du_mb(os.path.join(scratch.root, rel)),
        "state_mb": _du_mb(*bloom_dirs),
    }


def replay_finalize(spark, wh, ctx) -> dict:
    """The two pair-finding layers of `plans.dataset.finalize_pairs` on the
    committed pairs_out, with candidate counts for their pair yields."""
    from pyspark.sql import functions as F

    from crawlingathome_worker_spark.operators.imagededup import phash_dedup, phash_near_pairs
    from crawlingathome_worker_spark.operators.textdedup import (
        hash64_band_chunks,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sc = spark.sparkContext
    span = _Spans(sc)
    sc.setJobGroup("layer:inputs", "replay inputs")
    raw, _ = _mat(wh.read_table(spark, wh.latest(), "pairs_out"))

    def image():
        exact, _ = _mat(phash_dedup(raw, order_col="sample_id"))
        keyed = exact.select(F.col("sample_id").cast("string").alias("image_key"), "phash")
        near, n_near = _mat(phash_near_pairs(keyed, id_col="image_key", max_hamming=3))
        return exact, near, n_near

    exact, near, n_near = span("operators.imagededup", image)
    # candidate pairs: distinct id pairs sharing a 16-bit band chunk
    bands = exact.select(
        "sample_id", F.posexplode(F.array(*hash64_band_chunks("phash", 3))).alias("band", "chunk")
    )
    l, r = bands.alias("l"), bands.alias("r")
    img_cand = (
        l.join(r, ["band", "chunk"])
        .filter(F.col("l.sample_id") < F.col("r.sample_id"))
        .select(F.col("l.sample_id").alias("a"), F.col("r.sample_id").alias("b"))
        .distinct()
        .count()
    )
    drop = near.select(F.greatest(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("sample_id"))
    img_clean, _ = _mat(exact.join(drop.distinct(), "sample_id", "left_anti"))

    def text():
        docs = img_clean.select(F.col("sample_id").alias("doc_id"), F.col("caption").alias("text"))
        sigs, _ = _mat(minhash_signatures(docs, num_perm=64))
        _, n_pairs = _mat(minhash_lsh_pairs(sigs, threshold=0.8, num_perm=64))
        return sigs, n_pairs

    sigs, n_cap = span("operators.textdedup", text)
    # candidate pairs: distinct doc pairs sharing one of 16 LSH band buckets
    # (the bucket expression of minhash_lsh_pairs, 16 bands × 4 rows)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda b: F.xxhash64(F.concat_ws(",", F.slice("sig", b * 4 + 1, 4)), b),
            )
        ).alias("band", "bucket"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    txt_cand = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
        .count()
    )
    return {
        "self_s": span.self_s,
        "counts": {
            "img_pairs": n_near,
            "img_cand": img_cand,
            "txt_pairs": n_cap,
            "txt_cand": txt_cand,
        },
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerStageSubmitted"',
    '"SparkListenerStageCompleted"',
    '"SparkListenerTaskEnd"',
)


def read_event_log(log_dir: str) -> dict:
    """→ {group: {"jobs": [submit ms], "stages": {id: {...}}}} from the one
    application log in `log_dir`."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    groups: dict = defaultdict(lambda: {"jobs": [], "stages": {}})
    stage_group: dict[int, str] = {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            if not any(w in line[:60] for w in _WANTED):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                groups[g]["jobs"].append(e["Submission Time"])
            elif ev == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[sid] = g
                groups[g]["stages"][sid] = {"tasks": [], "submit": None, "complete": None}
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = groups[stage_group.get(si["Stage ID"])]["stages"].get(si["Stage ID"])
                if st is not None:
                    st["submit"], st["complete"] = si.get("Submission Time"), si.get("Completion Time")
            elif ev == "SparkListenerTaskEnd":
                st = groups[stage_group.get(e["Stage ID"])]["stages"].get(e["Stage ID"])
                if st is None:
                    continue
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                rd, wr = tm.get("Shuffle Read Metrics") or {}, tm.get("Shuffle Write Metrics") or {}
                st["tasks"].append({
                    "dur": ti["Finish Time"] - ti["Launch Time"],
                    "run": tm.get("Executor Run Time", 0),
                    "shuffle": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "gc": tm.get("JVM GC Time", 0),
                })
    return groups


def _stages(groups, names):
    return [st for g in names for st in groups.get(g, {"stages": {}})["stages"].values()]


def _tasks(groups, names):
    return [t for st in _stages(groups, names) for t in st["tasks"]]


def _skew(groups, names) -> float:
    """max / median task duration in the group's heaviest stage."""
    stages = [st for st in _stages(groups, names) if len(st["tasks"]) > 1]
    if not stages:
        return 0.0
    heavy = max(stages, key=lambda st: sum(t["dur"] for t in st["tasks"]))
    durs = [t["dur"] for t in heavy["tasks"]]
    return max(durs) / max(statistics.median(durs), 1)


def _residual_s(groups, names) -> float:
    return sum(
        (st["complete"] - st["submit"] - max((t["dur"] for t in st["tasks"]), default=0)) / 1e3
        for st in _stages(groups, names)
        if st["complete"] is not None and st["submit"] is not None
    )


def layer_metrics(workload: str, res: dict, groups: dict) -> dict:
    """All PER_LAYER metrics for one traced run."""
    m = {name: 0.0 for name in PER_LAYER}
    ops = [op for op in res["ops"] if op["ok"]]
    op_groups = [[op["group"]] + ([op["pool_group"]] if "pool_group" in op else []) for op in ops]
    tasks = [t for g in op_groups for t in _tasks(groups, g)]
    m["spark.spill_mb"] = sum(t["spill"] for t in tasks) / 1e6
    m["spark.gc_s"] = sum(t["gc"] for t in tasks) / 1e3
    m["trace.op_s_p50"] = statistics.median(op["wall"] for op in ops) if ops else 0.0
    tr = res["trace"]

    def layer(name):
        return [f"layer:{name}"]

    def shuffle_mb(name):
        return sum(t["shuffle"] for t in _tasks(groups, layer(name))) / 1e6

    def task_s(name):
        return sum(t["run"] for t in _tasks(groups, layer(name))) / 1e3

    if workload.startswith("crawl"):
        per_op = []
        for op, g in zip(ops, op_groups):
            jobs = [j for name in g for j in groups.get(name, {"jobs": []})["jobs"]]
            pool = groups.get(op["pool_group"], {"jobs": []})["jobs"]
            busy = sum(t["dur"] for t in _tasks(groups, g)) / 1e3
            per_op.append({
                "jobs": len(jobs),
                "stages": len(_stages(groups, g)),
                "prep_s": (min(pool) / 1e3 - op["t_call"]) if pool else op["wall"],
                "sched_residual_s": _residual_s(groups, g),
                "core_util": busy / (op["wall"] * CORES),
            })
        for key in ("jobs", "stages", "prep_s", "sched_residual_s", "core_util"):
            m[f"plans.wave.{key}"] = statistics.median(p[key] for p in per_op) if per_op else 0.0
        s, c = tr["self_s"], tr["counts"]
        m["plans.wave.overlap_s"] = sum(s.values()) - m["trace.op_s_p50"]
        m["operators.parse.self_s"] = s["operators.parse"]
        m["operators.parse.task_s"] = task_s("operators.parse")
        m["operators.parse.rows_out"] = c["rows_out"]
        m["operators.fetch.self_s"] = s["operators.fetch"]
        m["operators.fetch.task_s"] = task_s("operators.fetch")
        m["operators.fetch.shuffle_mb"] = shuffle_mb("operators.fetch")
        m["operators.fetch.ok_ratio"] = c["fetched_ok"] / max(c["scheduled"], 1)
        m["operators.politeness.self_s"] = s["operators.politeness"]
        m["operators.politeness.task_skew"] = _skew(groups, layer("operators.politeness"))
        m["operators.politeness.sched_ratio"] = c["scheduled"] / max(c["scheduled"] + c["deferred"], 1)
        m["operators.schedule.self_s"] = s["operators.schedule"]
        m["operators.schedule.jobs"] = len(groups.get("layer:operators.schedule", {"jobs": []})["jobs"])
        m["state.bloom.gate_s"] = s["state.bloom.gate"]
        m["state.bloom.fold_s"] = s["state.bloom.fold"]
        m["state.bloom.shuffle_mb"] = shuffle_mb("state.bloom.gate") + shuffle_mb("state.bloom.fold")
        m["state.bloom.unseen_ratio"] = c["unseen"] / max(c["candidates"], 1)
        m["state.bloom.state_mb"] = tr["state_mb"]
        m["state.cuckoo.update_s"] = s["state.cuckoo"]
        m["state.snapshots.write_s"] = s["state.snapshots.write"]
        m["state.snapshots.write_mb"] = tr["write_mb"]
        m["state.snapshots.commit_s"] = s["state.snapshots.commit"]
    else:
        s, c = tr["self_s"], tr["counts"]
        m["operators.imagededup.self_s"] = s["operators.imagededup"]
        m["operators.imagededup.cand_pairs"] = c["img_cand"]
        m["operators.imagededup.pair_yield"] = c["img_pairs"] / max(c["img_cand"], 1)
        m["operators.imagededup.task_skew"] = _skew(groups, layer("operators.imagededup"))
        m["operators.textdedup.self_s"] = s["operators.textdedup"]
        m["operators.textdedup.pair_yield"] = c["txt_pairs"] / max(c["txt_cand"], 1)
        m["plans.dataset.self_s"] = (
            m["trace.op_s_p50"] - s["operators.imagededup"] - s["operators.textdedup"]
        )
    return m

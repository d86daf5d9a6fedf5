"""Seed-keyed benchmark inputs, cached under the benchmark's cache root.

Two input families:

- crawl inputs: the repo's own fixture generators (`sources/fixtures.py`).
  The image corpus (`pairs.parquet`, the slow part: one fake encode + pHash
  per image) depends on the scale only and is built once per checkout; the
  crawl itself — pages, hosts, links, captions, robots rules — is generated
  from the workload seed and cached per (scale, seed). The oracle's per-wave
  results (`tests/oracle.py:oracle_wave`) are cached beside them.
- finalize inputs: a pairs_out-shaped table with seeded shares of exact-pHash
  duplicates, hamming-1..3 near-duplicates, whitespace-variant captions and
  one hot 16-bit pHash band, plus a numpy reference of what greedy
  `write_training_set` must keep.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS_SEED = 42  # the image corpus is fixed; the seed picks the crawl over it


def _atomic_dir(final: str, build) -> str:
    """Build into a temp sibling, then rename: a killed run leaves no
    half-written cache entry behind."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run built it first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# crawl inputs
# ---------------------------------------------------------------------------


def crawl_inputs(cache: str, scale: float, seed: int) -> str:
    """→ dir holding pairs.parquet, wat_links.parquet, robots.parquet."""
    from crawlingathome_worker_spark.sources import fixtures

    corpus = _atomic_dir(
        os.path.join(cache, f"corpus-s{scale:g}"),
        lambda d: fixtures.gen_pairs(d, scale=scale, seed=CORPUS_SEED),
    )

    def build(d: str) -> None:
        src = os.path.join(corpus, "pairs.parquet")
        try:
            os.link(src, os.path.join(d, "pairs.parquet"))
        except OSError:
            shutil.copyfile(src, os.path.join(d, "pairs.parquet"))
        fixtures.gen_wat(d, scale=scale, seed=10 * seed + 1)
        fixtures.gen_robots(d, seed=10 * seed + 2)
        os.unlink(os.path.join(d, "wat_lines.txt"))  # raw-text form: unused here

    return _atomic_dir(os.path.join(cache, f"crawl-s{scale:g}-seed{seed}"), build)


def shard_bounds(fx_dir: str, n_shards: int) -> list[tuple[int, int]]:
    """Disjoint page-id ranges [lo, hi) covering the WAT pages, as
    run_frontier.py splits them."""
    pages = pq.read_table(os.path.join(fx_dir, "wat_links.parquet"), columns=["page_id"])
    max_page = int(pc.max(pages.column("page_id")).as_py())
    step = (max_page + n_shards) // n_shards
    return [(i * step, (i + 1) * step) for i in range(n_shards)]


def crawl_oracle(fx_dir: str, cfg, plan: list[int | None], bounds) -> dict:
    """Oracle results for the wave sequence `plan` (shard index or None for a
    drain wave): per-wave counters, crawl order of the output rows, the final
    seen set and the deferred frontier. Cached beside the inputs."""
    key = "-".join("d" if s is None else str(s) for s in plan)
    path = os.path.join(fx_dir, f"oracle-b{cfg.default_host_budget}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import oracle as O  # tests/oracle.py (tests/ is on sys.path, see run.py)

    links = pq.read_table(os.path.join(fx_dir, "wat_links.parquet")).to_pylist()
    pairs = pq.read_table(os.path.join(fx_dir, "pairs.parquet"), columns=["image_id", "bytes"])
    pairs_by_id = dict(zip(pairs.column(0).to_pylist(), pairs.column(1).to_pylist()))
    robots = {
        r["host"]: (r["disallow_prefixes"], r["crawl_delay"])
        for r in pq.read_table(os.path.join(fx_dir, "robots.parquet")).to_pylist()
    }
    state = O.OracleState()  # empty warehouse: nothing seen yet
    counters, order = [], []
    for s in plan:
        shard = None
        if s is not None:
            lo, hi = bounds[s]
            shard = [r for r in links if lo <= r["page_id"] < hi]
        res = O.oracle_wave(state, shard, pairs_by_id, robots, cfg)
        counters.append(res["counters"])
        order += [[o["sample_id"], o["url"]] for o in res["outputs"]]
    out = {
        "counters": counters,
        "order": order,
        "seen": sorted(state.seen["parsed"]),
        "frontier": sorted(c.url for c in state.frontier),
    }
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


# ---------------------------------------------------------------------------
# finalize inputs
# ---------------------------------------------------------------------------

_VOCAB = 4000  # caption tokens: random captions share almost no 3-shingles


def _gen_finalize(d: str, n_rows: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    kind = rng.choice(4, size=n_rows, p=[0.5467, 1 / 3, 0.08, 1 - 0.5467 - 1 / 3 - 0.08])
    # 0 fresh, 1 exact pHash dup of an earlier row, 2 near dup (ham 1..3),
    # 3 hot band: low 16 bits zero, as near-blank placeholder images share
    ph = rng.integers(-(2**63), 2**63 - 1, size=n_rows, dtype=np.int64, endpoint=True)
    ph[kind == 3] &= np.int64(~0xFFFF)
    for i in np.flatnonzero((kind == 1) | (kind == 2)):
        if i == 0:
            continue
        src = ph[rng.integers(i)]
        if kind[i] == 2:
            bits = rng.choice(64, size=rng.integers(1, 4), replace=False)
            for b in bits:
                src ^= np.int64(1) << np.int64(b) if b < 63 else np.int64(-(2**63))
        ph[i] = src
    toks = rng.integers(_VOCAB, size=(n_rows, 14))
    lens = rng.integers(4, 15, size=n_rows)
    caps = [" ".join(f"w{t}" for t in toks[i, : lens[i]]) for i in range(n_rows)]
    # near-duplicate captions: an earlier caption with whitespace noise — a
    # different string whose word shingles (and MinHash) are identical
    for i in np.flatnonzero(rng.random(n_rows) < 0.06):
        if i == 0:
            continue
        words = caps[rng.integers(i)].split()
        caps[i] = "  ".join(words) + (" " if i % 2 else "")
    ids = np.arange(1, n_rows + 1, dtype=np.int64)
    score = rng.uniform(-0.15, 1.0, size=n_rows)
    tbl = pa.table(
        {
            "image_id": pa.array([f"img{i:08d}" for i in ids], pa.string()),
            "bytes": pa.array([b"\x89PNG" + int(i).to_bytes(8, "little") for i in ids], pa.binary()),
            "w": pa.array(rng.integers(32, 129, size=n_rows), pa.int32()),
            "h": pa.array(rng.integers(32, 129, size=n_rows), pa.int32()),
            "fmt": pa.array(np.array(["JPEG", "PNG", "WEBP"])[rng.integers(3, size=n_rows)]),
            "caption": pa.array(caps, pa.string()),
            "phash": pa.array(ph, pa.int64()),
            "sample_id": pa.array(ids, pa.int64()),
            "url": pa.array([f"http://host{i % 50:02d}.example.com/img/{i}.jpg" for i in ids]),
            "license": pa.array(["?"] * n_rows, pa.string()),
            "score": pa.array(score, pa.float64()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "pairs_out.parquet"), row_group_size=8192)
    with open(os.path.join(d, "reference.json"), "w") as f:
        json.dump(finalize_reference(tbl), f)


def finalize_inputs(cache: str, n_rows: int, seed: int) -> tuple[str, dict]:
    """→ (dir with pairs_out.parquet, reference stats + kept ids)."""
    d = _atomic_dir(
        os.path.join(cache, f"finalize-n{n_rows}-seed{seed}"),
        lambda d: _gen_finalize(d, n_rows, seed),
    )
    with open(os.path.join(d, "reference.json")) as f:
        return d, json.load(f)


def _popcount(x: np.ndarray) -> np.ndarray:
    x = np.ascontiguousarray(x)
    return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


def _band_pairs(keys: np.ndarray, ids: np.ndarray, ok) -> set[tuple[int, int]]:
    """All (lo, hi) id pairs sharing a key value that satisfy ok(i, j)."""
    out: set[tuple[int, int]] = set()
    order = np.argsort(keys, kind="stable")
    k = keys[order]
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    ends = np.r_[starts[1:], len(k)]
    for s, e in zip(starts, ends):
        if e - s < 2:
            continue
        grp = order[s:e]
        a, b = np.triu_indices(len(grp), 1)
        ia, ib = grp[a], grp[b]
        keep = ok(ia, ib)
        for x, y in zip(ids[ia[keep]], ids[ib[keep]]):
            out.add((min(x, y), max(x, y)))
    return out


def finalize_reference(tbl: pa.Table, max_hamming: int = 3, threshold: float = 0.0) -> dict:
    """numpy reference of greedy `write_training_set` on `tbl`:
    exact-pHash first-wins → drop the higher id of every pHash pair within
    `max_hamming` → drop the higher id of every pair of captions with equal
    word-shingle sets → score gate. Pair finding is exhaustive inside
    16-bit band buckets, complete by pigeonhole."""
    ids = tbl.column("sample_id").to_numpy()
    ph = tbl.column("phash").to_numpy()
    caps = tbl.column("caption").to_pylist()
    score = tbl.column("score").to_numpy()
    order = np.lexsort((ids, ph))
    first = np.r_[True, ph[order][1:] != ph[order][:-1]]
    ex = np.sort(order[first])  # row indices of exact-dedup survivors
    ex_ids, ex_ph = ids[ex], ph[ex]
    width = 64 // (max_hamming + 1)
    near: set[tuple[int, int]] = set()
    u = ex_ph.view(np.uint64)
    for b in range(max_hamming + 1):
        chunk = (u >> np.uint64(b * width)) & np.uint64((1 << width) - 1)
        near |= _band_pairs(
            chunk, ex_ids,
            lambda i, j: _popcount(np.bitwise_xor(ex_ph[i], ex_ph[j])) <= max_hamming,
        )
    drop_img = {hi for _, hi in near}
    img_rows = [r for r in ex if ids[r] not in drop_img]
    groups: dict[tuple, list[int]] = {}
    for r in img_rows:
        groups.setdefault(_shingle_key(caps[r]), []).append(int(ids[r]))
    drop_cap = {i for g in groups.values() for i in sorted(g)[1:]}
    deduped = [r for r in img_rows if ids[r] not in drop_cap]
    final = sorted(int(ids[r]) for r in deduped if score[r] >= threshold)
    return {
        "stats": {
            "raw_rows": len(ids),
            "after_exact_phash": len(ex),
            "after_near_phash": len(img_rows),
            "after_caption_dedup": len(deduped),
            "final_rows": len(final),
        },
        "near_pairs": len(near),
        "final_ids": final,
    }


def _shingle_key(text: str, n: int = 3) -> tuple:
    """The word-shingle set MinHash sees (operators/textdedup.py:minhash_signatures)."""
    toks = text.split()
    if len(toks) < n:
        return (" ".join(toks),)
    return tuple(sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}))

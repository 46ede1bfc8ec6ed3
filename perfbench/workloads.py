"""Workload definitions, the seeded input generator and the input cache.

Every turn comes from ``sagan_spark.datagen.make_turn(i, t, noise)``, a
pure function of the conversation index ``i`` and the turn index ``t``.
The seed shifts the conversation-index space: the workload's ``j``-th
conversation is ``i = seed * SEED_STRIDE + j``.  The skew belongs to the
workload, not the seed -- the first ``hot_convs`` conversations of every
seed get ``hot_len`` turns.  (``datagen.n_turns`` marks only *global*
indices below ``hot_convs`` as hot, so shifting ``first_conv`` alone
would drop the skew for every seed but 0.)

Generated inputs and the oracle's digests of them are cached under the
work directory, keyed by workload, seed, size and the hashes of the code
and rules that produced them.  Nothing here is timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

SEED_STRIDE = 10 ** 6
BATCH_FILES = 8


@dataclass(frozen=True)
class Workload:
    name: str
    rules: str             # rules directory, relative to the checkout
    n_convs: int
    noise_pct: int         # share of routine-chatter turns
    hot_convs: int = 2
    hot_len: int = 200
    chunks: int = 0        # > 0: streaming input, one file per chunk


WORKLOADS = {w.name: w for w in (
    Workload("sparse_match", "rules-bench", n_convs=1500, noise_pct=95),
    Workload("dense_conv", "rules-fixtures", n_convs=700, noise_pct=0),
    Workload("ip_cross", os.path.join("perfbench", "rules", "ipcross"),
             n_convs=1000, noise_pct=0),
    Workload("stream_conv", "rules-fixtures", n_convs=160, noise_pct=0,
             chunks=3),
)}


def conv_index(seed: int, j: int) -> int:
    return seed * SEED_STRIDE + j


def turns_of(w: Workload, seed: int, j: int) -> int:
    from sagan_spark.datagen import n_turns

    if j < w.hot_convs:
        return w.hot_len
    return n_turns(conv_index(seed, j), hot_convs=0)


def gen_rows(w: Workload, seed: int) -> list[dict]:
    """The workload's transcript rows for ``seed``, in conversation
    order."""
    from sagan_spark.datagen import make_turn

    rows = []
    for j in range(w.n_convs):
        i = conv_index(seed, j)
        for t in range(turns_of(w, seed, j)):
            rows.append(make_turn(i, t, w.noise_pct))
    return rows


def _arrow_table(rows: list[dict]):
    import pyarrow as pa

    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()),
                        ("ts", pa.timestamp("us", tz="UTC"))])
    return pa.Table.from_pylist(rows, schema=schema)


def chunk_bounds(turn_idx: list[int], chunks: int) -> list[int]:
    """Turn-index boundaries splitting rows into ``chunks`` groups of
    similar size; each group holds a turn range, so within a
    conversation arrival order is time order."""
    ordered = sorted(turn_idx)
    bounds = []
    for k in range(1, chunks):
        b = ordered[k * len(ordered) // chunks]
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    return bounds


def write_batch_input(rows: list[dict], path: str) -> None:
    """Rows split by conversation into ``BATCH_FILES`` parquet files, so
    the scan is not a single task."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    by_file: list[list[dict]] = [[] for _ in range(BATCH_FILES)]
    conv_no: dict[str, int] = {}
    for r in rows:
        k = conv_no.setdefault(r["conv_id"], len(conv_no)) % BATCH_FILES
        by_file[k].append(r)
    for k, part in enumerate(by_file):
        pq.write_table(_arrow_table(part),
                       os.path.join(path, f"part-{k:04d}.parquet"))


def write_stream_input(rows: list[dict], path: str, chunks: int) -> None:
    """One parquet file per turn range, with increasing modification
    times so the file source replays them in order."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    bounds = chunk_bounds([r["turn_idx"] for r in rows], chunks)
    groups: list[list[dict]] = [[] for _ in range(len(bounds) + 1)]
    for r in rows:
        groups[sum(r["turn_idx"] >= b for b in bounds)].append(r)
    base = 1_700_000_000
    for k, part in enumerate(groups):
        f = os.path.join(path, f"chunk-{k:04d}.parquet")
        pq.write_table(_arrow_table(part), f)
        os.utime(f, (base + 10 * k, base + 10 * k))


def _hash_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        files = ([p] if os.path.isfile(p) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs
            if not f.endswith((".pyc", ".crc"))))
        for f in files:
            h.update(os.path.relpath(f, p).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


@dataclass
class PreparedInput:
    input_dir: str
    warmup_path: str       # what the warm-up jobs read
    n_turns: int
    oracle: dict           # digest.oracle_digests of the oracle's run
    oracle_s: float        # oracle run time when it was computed


def prepare(w: Workload, seed: int, root: str, cache_dir: str
            ) -> PreparedInput:
    """Generate (or reuse) the input for (workload, seed) and the
    oracle's digests of it."""
    import time

    from .digest import oracle_digests

    gen_hash = _hash_files([os.path.join(root, "sagan_spark", "datagen.py"),
                            os.path.abspath(__file__)])
    key = (f"{w.name}-s{seed}-c{w.n_convs}-n{w.noise_pct}-"
           f"h{w.hot_convs}x{w.hot_len}-k{w.chunks}-{gen_hash}")
    base = os.path.join(cache_dir, key)
    input_dir = os.path.join(base, "input")
    warmup = os.path.join(base, "warmup") if w.chunks else input_dir
    meta_path = os.path.join(base, "meta.json")
    rows = None
    if not os.path.exists(meta_path):
        rows = gen_rows(w, seed)
        tmp = input_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if w.chunks:
            shutil.rmtree(warmup, ignore_errors=True)
        if w.chunks:
            write_stream_input(rows, tmp, w.chunks)
        else:
            write_batch_input(rows, tmp)
        if w.chunks:
            # a stream of the first chunk alone warms up a session
            os.makedirs(warmup)
            shutil.copy2(os.path.join(tmp, sorted(os.listdir(tmp))[0]),
                         warmup)
        os.replace(tmp, input_dir)
        with open(meta_path, "w") as f:
            json.dump({"n_turns": len(rows)}, f)
    with open(meta_path) as f:
        n_turns = json.load(f)["n_turns"]

    rules_hash = _hash_files([os.path.join(root, w.rules),
                              os.path.join(root, "oracle"),
                              os.path.join(root, "sagan_spark", "semantics.py"),
                              os.path.join(root, "sagan_spark", "extract.py"),
                              os.path.join(root, "sagan_spark", "rules")])
    oracle_path = os.path.join(base, f"oracle-{rules_hash}.json")
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            cached = json.load(f)
        return PreparedInput(input_dir, warmup, n_turns,
                             cached["digests"], cached["oracle_s"])

    from oracle.engine import Event, OracleEngine
    from sagan_spark.rules.compiler import compile_ruleset_from_dir

    if rows is None:
        rows = gen_rows(w, seed)
    t0 = time.perf_counter()
    result = OracleEngine(compile_ruleset_from_dir(
        os.path.join(root, w.rules))).run([Event(**r) for r in rows])
    oracle_s = time.perf_counter() - t0
    digests = oracle_digests(result)
    with open(oracle_path + ".tmp", "w") as f:
        json.dump({"digests": digests, "oracle_s": oracle_s}, f)
    os.replace(oracle_path + ".tmp", oracle_path)
    return PreparedInput(input_dir, warmup, n_turns, digests, oracle_s)

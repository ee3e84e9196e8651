"""The curate workload: leaf queries of ``__spark_entry__.queries()`` over
the bundled sf0.01 ``documents`` and ``embeddings`` tables, sunk to noop.

One cold pass in the fresh session, then an untimed check pass comparing
each query's row count and order-independent checksum with the values in
``expected.json``, then steady passes until the run's seconds are spent
(at least two). ``cold_cpu_s`` is the process tree's CPU time over the
cold pass and ``work_cpu_s`` its mean CPU time per steady pass. The seed
does not change this workload's inputs.
"""

from __future__ import annotations

import hashlib
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from perfbench.proc import tree_cpu_s
from perfbench.tracing import Tracer, stage_metrics

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
TABLES = ("documents", "embeddings")

# query -> the functions module doing its work. One or more per module,
# every size-dispatched fast path (shingle pair counts, the four graph
# iterations, substring spans) and every query with an open regression.
QUERIES = {
    "dedup_ngram_jaccard": "dedup",
    "pq_topk": "similarity",
    "bigram_logprob": "textstats",
    "span_scrub": "curation",
    "substring_dedup": "curation",
    "host_rank": "graph",
    "hits_scores": "graph",
    "trust_rank": "graph",
    "host_communities": "graph",
    "bm25_search": "search",
    "bitext_mine_ivf": "vecindex",
    "link_dedup_cap": "url",
}
MODULES = sorted(set(QUERIES.values()))


def output_digest(df) -> tuple[int, int]:
    """(rows, order-independent checksum) of a query's output."""
    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def _input_digest() -> str:
    h = hashlib.sha256()
    for t in TABLES:
        h.update((DATA / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def run(spark, work: Path, args, expected: dict, build_s: float) -> dict:
    import __spark_entry__ as entry

    preps, digest = [], None
    for _ in range(3):
        t0 = time.monotonic()
        digest = _input_digest()
        preps.append(time.monotonic() - t0)
    errors = []
    if args.record:
        expected["curate/inputs"] = digest
    elif digest != expected.get("curate/inputs"):
        errors.append("bundled curate inputs differ from the recorded digest")

    qs = entry.queries()
    sf_dir = str(DATA)
    tracer = Tracer(spark) if args.trace else None
    raised: set[str] = set()
    mismatched: set[str] = set()
    attempted = 0

    def one_pass(label: str) -> dict[str, float]:
        nonlocal attempted
        walls = {}
        for name in QUERIES:
            attempted += 1
            t0 = time.monotonic()
            try:
                with tracer.group(f"{label}/{name}") if tracer else nullcontext():
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
            except Exception:  # a failing query is counted, the pass goes on
                traceback.print_exc()
                raised.add(name)
            walls[name] = time.monotonic() - t0
        return walls

    c0 = tree_cpu_s()
    cold = one_pass("cold")
    cold_cpu = tree_cpu_s() - c0
    # the check pass runs before the timed steady passes, so these measure
    # a third execution of each query, past most of the JIT's compiling
    for name in QUERIES:
        try:
            got = list(output_digest(qs[name](spark, sf_dir)))
        except Exception:
            traceback.print_exc()
            raised.add(name)
            continue
        key = f"curate/{name}"
        if args.record:
            expected[key] = got
        elif got != expected.get(key):
            errors.append(f"{name}: (rows, checksum) {got} != recorded "
                          f"{expected.get(key)}")
            mismatched.add(name)
    steady, steady_cpu = [], []
    t_run = time.monotonic()
    while len(steady) < 2 or time.monotonic() - t_run < args.seconds:
        c0 = tree_cpu_s()
        steady.append(one_pass(f"s{len(steady)}"))
        steady_cpu.append(tree_cpu_s() - c0)
        print(f"steady pass {len(steady)}: wall {sum(steady[-1].values()):.3f}s "
              f"cpu {steady_cpu[-1]:.2f}s", file=sys.stderr)
    print(f"cold pass: wall {sum(cold.values()):.3f}s cpu {cold_cpu:.2f}s",
          file=sys.stderr)

    errors += [f"{name} raised" for name in sorted(raised)]
    failed = raised | mismatched

    result = {
        "attempted": attempted,
        # a query that fails counts once per pass it ran in
        "failed": len(failed) * (1 + len(steady)),
        "errors": errors,
        "end_to_end": {
            "setup_s": build_s + statistics.median(preps),
            "cold_cpu_s": cold_cpu,
            "work_cpu_s": statistics.mean(steady_cpu),
        },
    }
    if tracer is not None:
        # each query's fastest steady wall: a stall on a shared host
        # lengthens one execution, and the minimum drops it
        fastest = {name: min(p[name] for p in steady) for name in QUERIES}
        layers = {f"q.{name}_s": wall for name, wall in fastest.items()}
        layers["cold_wall_s"] = sum(cold.values())
        layers["work_wall_s"] = sum(fastest.values())
        walls = [w for p in steady for w in p.values()]
        layers["q.p50_s"] = statistics.median(walls)
        layers["q.max_s"] = max(walls)
        for m in MODULES:
            layers[f"q.{m}_s"] = sum(
                layers[f"q.{n}_s"] for n, mod in QUERIES.items() if mod == m
            )
        metrics = stage_metrics(spark, [g for g in tracer.groups if g[0] == "s"])
        per_pass = [
            [m for g, m in metrics.items() if g.startswith(f"s{i}/")]
            for i in range(len(steady))
        ]
        layers["q.jobs"] = statistics.median(
            sum(m["jobs"] for m in p) for p in per_pass)
        layers["q.shuffle_write_mb"] = statistics.median(
            sum(m["shuffle_write_bytes"] for m in p) / 2**20 for p in per_pass)
        for name, wall in cold.items():
            print(f"cold {name}: {wall:.3f}s", file=sys.stderr)
        result["per_layer"] = layers
    return result

"""Crawl and curation benchmark for distributed_crawl_spark.

    python3 perfbench/run.py --workload crawl_polite --seed 0 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — every
end-to-end metric of ``BENCHMARK.json`` with ``--trace 0``, every
per-layer metric with ``--trace 1`` (0 for a layer the workload does not
use). Errors, the per-round phase table and progress go to stderr.
Workloads, metrics and sizing are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))  # the program, and this directory as a package

from perfbench.proc import descendants, pss_kb  # noqa: E402

WORK = ROOT / ".perfbench_work"
WORKLOADS = ("crawl_polite", "curate", "crawl_bfs")
CORES = 4


class MemorySampler(threading.Thread):
    """Peak resident memory (PSS) of this process tree: the Python driver,
    the JVM it launches and the JVM's Python workers."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._done = threading.Event()

    def sample(self) -> None:
        total = sum(pss_kb(p) for p in [os.getpid(), *descendants(os.getpid())])
        self.peak_mb = max(self.peak_mb, total / 1024)

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def build_spark(run_dir: Path):
    """The program's own ``build_session`` at local[4], with every file it
    writes kept inside this run's work directory."""
    from perfbench.tracing import SESSION_CONF
    from distributed_crawl_spark.session import build_session

    tmp = run_dir / "tmp"
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        **SESSION_CONF,
    }
    t0 = time.monotonic()
    spark = build_session("perfbench", cores=CORES, shuffle_partitions=CORES,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    gateway = spark.sparkContext._gateway
    proc: subprocess.Popen | None = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("toy", "default", "full"),
                    default="default",
                    help="crawl corpus size: toy for the smoke test, full for "
                         "the 100k-page sizing (ignored by curate)")
    ap.add_argument("--record", action="store_true",
                    help="store this run's outputs in expected.json instead "
                         "of checking them")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    expected_path = BENCH / "expected.json"
    expected = json.loads(expected_path.read_text())

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # per-process, so runs sharing a checkout never delete each other's
    # files; only the page-corpus cache in WORK is shared
    run_dir = WORK / f"run{os.getpid()}"
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")  # wins over conf
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR

    if args.workload == "curate":
        from perfbench import curate_workload as workload
    else:
        from perfbench import crawl_workloads as workload

    sampler = MemorySampler() if args.trace else None
    if sampler:
        sampler.start()
    spark, build_s = build_spark(run_dir)
    try:
        result = workload.run(spark, run_dir, args, expected, build_s)
    finally:
        stop_spark(spark)
        peak_mb = sampler.stop() if sampler else None
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values = {m["name"]: 0.0 for m in section}
        values.update(result["per_layer"],
                      **{"session.build_s": build_s, "mem.peak_pss_mb": peak_mb})
    else:
        values = result["end_to_end"]
    unknown = sorted(set(values) - {m["name"] for m in section})
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    if args.record:
        expected_path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    for e in result["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not result["errors"] and result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in section
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

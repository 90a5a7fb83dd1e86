"""Repository benchmark: the engine's two user paths as closed-loop jobs.

Usage (from the repository root):

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Workloads (one client, one job at a time, each started after the previous
one finished, on ``local[N]`` with N = min(2, usable cores) and N shuffle
partitions):

- ``kg_build``: KG construction, the first half of ``main.py pipeline`` —
  ``run_pipeline(validate=False, encoded=True)`` into a fresh workdir over
  seeded heavy-tailed transcripts: extraction, linking, canonicalization,
  the cube graph and the dictionary-encoded snapshots.
- ``cube_validate``: the ``main.py validate`` path — ``read_rdf(.nt)`` ->
  ``normalize`` -> ``validate_all`` -> ``write_validation_report`` over a
  seeded string-term cube with injected IC-1/11/12/13/14 violations.

Inputs are written by ``gen.py`` from ``--seed`` before timing starts; the
engine only sees the generated files. Every job is checked against the
generator's expected counts (stage row counts; normalized triples and all
21 per-IC violation counts); a mismatch or an exception is a failed job.

Each Spark session runs in a child process (``--session``), so its JVM and
Python workers are stopped and waited for before the run ends. ``--trace
0`` runs one session that keeps starting jobs until ``--seconds`` have
passed (at least one) and prints the end-to-end metrics: the session's
set-up time and the CPU time of its cold first job, the one a
``spark-submit`` user pays. A run of one second therefore measures exactly
one job: a job costs 20-60 s of mostly fixed cost on a 4-vCPU VM, and a
session's second job still varies twofold while the JVM compiles, so a
steady warm median would need several more jobs per run than the time
budget below allows.

The job is gated on its CPU time, not its wall time: the driver JVM, the
Python workers it forks and the driver-side Python, user plus system time
summed over all their threads — what the job costs whoever pays for the
cores. On a shared 4-vCPU host the wall time of the cold job spread
over ten seeds by up to 0.55 of its median (interquartile range), as other
tenants' load came and went; CPU time leaves out the time the job waits
for a core and spread by 0.09-0.22. Both still follow the host's speed
(slower cores run fewer instructions per second), which no amount of work
inside one run averages out. The wall time of every job is recorded in the
line before the result (``session.jobs[].s``).

``--trace 1`` runs one cold traced job (per-layer spans, layertrace.py)
and prints the per-layer metrics plus the tracer's own cost: the time it
spent reading the status store and how many layer outputs it forced.

All files live under ``.perfbench_work/`` in the current directory, which is
emptied before and removed after each run. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the run's environment (cores, load, host speed, versions,
sizes).
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

WORK = os.path.join(os.getcwd(), ".perfbench_work")
DEADLINE_S = 170  # the whole run, generation included
#: local[N]: two cores leave the rest of a small shared box to the JVM's
#: own threads (GC, JIT, RPC) and this Python process, which steadies timings
CORES = min(2, len(os.sched_getaffinity(0)))
#: a fixed-size heap (-Xms = -Xmx) keeps peak memory from depending on
#: when the collector decides to grow the heap
HEAP = "1g"
#: no hsperfdata files under the system temp dir: the run writes only
#: inside its working directory
JVM_NO_TMP = "-XX:-UsePerfData"

#: input sizes per workload (seed-independent). A job's time is mostly a
#: fixed cost of its many small Spark jobs; on a 4-vCPU VM at local[2] the
#: cold job took: kg_build 20.7 s at 1.5K turns, 22.2 s at 6K, 29.1 s at
#: 24K; cube_validate 53 s at 3K observations (21K triples), 77 s at 12K,
#: 80 s at 48K. With a ~20 s set-up, these are the largest sizes that keep
#: a whole run near a minute, as 48 runs in 3420 s require.
SIZES = {
    "kg_build": {"n_convs": 240, "hot_turns": 800},
    "cube_validate": {"n_obs": 3000},
}


# ---------------------------------------------------------------------------
# jobs (run inside a session process)
# ---------------------------------------------------------------------------
def job_kg_build(spark, spec: dict, jobdir: str) -> dict:
    """run_pipeline's construction stages, encoded at rest."""
    from nospa_rdf_data_cube_validator_spark import pipeline
    from nospa_rdf_data_cube_validator_spark.sources.transcripts import read_transcripts

    transcripts = read_transcripts(spark, spec["input"])
    pipeline.run_pipeline(spark, transcripts, jobdir, validate=False, encoded=True)
    return {}


def job_cube_validate(spark, spec: dict, jobdir: str) -> dict:
    """main.cmd_validate: parse, normalize, 21 ICs, report."""
    from nospa_rdf_data_cube_validator_spark import report
    from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
    from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
    from nospa_rdf_data_cube_validator_spark.sources import rdf

    normalize = importlib.import_module("nospa_rdf_data_cube_validator_spark.operators.normalize")
    store = normalize.normalize(TripleStore(rdf.read_rdf(spark, spec["input"])))
    store.df = store.df.localCheckpoint(eager=True)
    os.makedirs(jobdir, exist_ok=True)
    with CubeValidator(store) as v:
        report.write_validation_report(
            v.validate_all(), md_path=jobdir, parquet_dir=os.path.join(jobdir, "violations")
        )
    return {"normalized": store.df}


JOBS = {"kg_build": job_kg_build, "cube_validate": job_cube_validate}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def check_job(spec: dict, jobdir: str, out: dict) -> tuple[list[str], int]:
    """Compare a finished job with the generator's expected counts.
    Returns (mismatches, bytes the job left on disk)."""
    exp = spec["expected"]
    bad = []
    if spec["workload"] == "kg_build":
        with open(os.path.join(jobdir, "_MANIFEST.json")) as fh:
            stages = json.load(fh)["stages"]
        for key, want in (
            ("transcripts", exp["turns"]),
            ("mentions", exp["mentions"]),
            ("linked", exp["linked"]),
            ("canonical", exp["linked"]),
            ("triples", exp["triples"]),
            ("triples_encoded", exp["triples"]),
        ):
            if stages[key]["rows"] != want:
                bad.append(f"{key}: {stages[key]['rows']} != {want}")
        rows = _parquet_rows(os.path.join(jobdir, "triples", "v1"))
        if rows != exp["triples"]:
            bad.append(f"triples snapshot: {rows} != {exp['triples']}")
    else:
        for ic, want in exp["violations"].items():
            out_dir = os.path.join(jobdir, "violations", ic)
            if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
                bad.append(f"{ic}: no committed violations table")
                continue
            got = _parquet_rows(out_dir)
            if got != want:
                bad.append(f"{ic}: {got} != {want}")
        n = out["normalized"].count()
        if n != exp["normalized"]:
            bad.append(f"normalized: {n} != {exp['normalized']}")
    return bad, _du(jobdir)


def cleanup_job(spark, jobdir: str) -> None:
    """Drop what the job left behind — its workdir and every cached frame —
    so the next job starts from the same state."""
    shutil.rmtree(jobdir, ignore_errors=True)
    spark.catalog.clearCache()
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# process-tree accounting
# ---------------------------------------------------------------------------
CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree(pid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for ``pid`` and
    all its descendants, read in one pass over ``/proc``."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [pid]
    while todo:
        p = todo.pop()
        if p in stats:
            tree[p] = stats[p]
            todo.extend(children.get(p, ()))
    return tree


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, all threads) used so far by ``pid`` and
    its descendants, including the descendants they have already reaped:
    the Python workers that exit are counted through their parent."""
    return sum(sum(int(x) for x in f[11:15]) for f in process_tree(pid).values()) / CLK_TCK


class TreeMemory:
    """Peak proportional set size (PSS) of a process and all its
    descendants: the Spark JVM plus the Python worker daemon and the
    workers it forks. PSS splits pages the forked workers share, so the
    figure does not grow with how many idle workers happen to be alive.
    ``own_cpu_s`` is the CPU time the sampling thread itself has used, so
    that it can be left out of the session process's CPU time."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self.own_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def _tree_pss(self) -> int:
        return sum(self._pss(pid) for pid in process_tree(self.pid))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self.own_cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_pss())


# ---------------------------------------------------------------------------
# one Spark session (child process)
# ---------------------------------------------------------------------------
def _get_spark(work: str):
    from nospa_rdf_data_cube_validator_spark.session import get_spark

    return get_spark(
        app_name="nospa-perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} {JVM_NO_TMP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # the traced run diffs cumulative status-store figures; evicted
            # stages or jobs would undercount them
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def session_main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    work = spec["work"]
    traced = spec["traced"]
    t0 = time.perf_counter()
    spark = _get_spark(work)
    setup_s = time.perf_counter() - t0
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

    tracer = None
    if traced:
        from layertrace import Tracer

        tracer = Tracer()
        tracer.session_span(setup_s, spark)
        tracer.install()

    jobs = []
    job_fn = JOBS[spec["workload"]]
    window = time.perf_counter()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with TreeMemory(jvm_pid) as mem:

        def cpu_s() -> float:
            """The JVM's tree plus this process, less the memory sampler."""
            return tree_cpu_s(jvm_pid) + time.process_time() - mem.own_cpu_s

        while True:
            jobdir = os.path.join(work, f"job{len(jobs)}")
            t0, c0 = time.perf_counter(), cpu_s()
            try:
                out = job_fn(spark, spec, jobdir)
                seconds, cpu = time.perf_counter() - t0, cpu_s() - c0
                bad, written = check_job(spec, jobdir, out)
            except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                seconds, cpu = time.perf_counter() - t0, cpu_s() - c0
                bad, written = ["exception"], 0
            if bad:
                print(f"job {len(jobs)} failed: {bad}", file=sys.stderr)
            jobs.append({"s": seconds, "cpu_s": cpu, "ok": not bad, "bytes": written})
            if tracer is not None:
                tracer.release()
            # closed loop: start another job while the window is open
            if bad or time.perf_counter() - window >= spec["seconds"]:
                break
            cleanup_job(spark, jobdir)
    result = {"setup_s": setup_s, "jobs": jobs, "peak_mem": mem.peak, "java": java}
    if tracer is not None:
        tracer.uninstall()
        result["layers"] = tracer.layer_metrics()
        result["rows"] = tracer.rows
        result["bookkeeping_s"] = tracer.bookkeeping_s
        result["forced"] = tracer.forced
        result["spans"] = tracer.spans
    _stop_spark(spark)
    print(json.dumps(result))
    return 0


# ---------------------------------------------------------------------------
# orchestration (parent process)
# ---------------------------------------------------------------------------
def run_session(spec: dict, deadline: float) -> dict | None:
    """Run one session in a child process group; kill the group if it
    outlives the run's deadline. Returns the child's result or None."""
    path = os.path.join(WORK, "session.json")
    with open(path, "w") as fh:
        json.dump(spec, fh)
    env = dict(
        os.environ,
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_DRIVER_MEM=HEAP,
        SPARK_LAUNCHER_OPTS=JVM_NO_TMP,  # spark-submit's launcher JVM
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--session", path],
        stdout=subprocess.PIPE,
        env=env,
        start_new_session=True,
        text=True,
    )
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print("session killed at the run deadline", file=sys.stderr)
        return None
    except BaseException:  # interrupted: take the session's JVM down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"session exited with {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def generate(workload: str, seed: int) -> tuple[str, dict]:
    """Write the workload's input under WORK; return (path, expected counts)."""
    import gen

    if workload == "kg_build":
        path = os.path.join(WORK, "inputs", "transcripts.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        expected = gen.write_transcripts(path, seed, **SIZES[workload])
    else:
        path = os.path.join(WORK, "inputs", "cube.nt")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        expected = gen.write_cube(path, seed, **SIZES[workload])
    return path, expected


def cpu_probe_s() -> float:
    """Time of a fixed pure-Python loop: the host's speed at the start of
    the run, which load averages inside a VM do not show."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.perf_counter() - t0


def end_to_end(res: dict, expected: dict) -> dict:
    jobs = res["jobs"]
    n_ok = sum(j["ok"] for j in jobs)
    written = statistics.median(j["bytes"] for j in jobs)
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_job_cpu_s": (jobs[0]["cpu_s"], "s"),
        "success_rate": (n_ok / len(jobs), "ratio"),
        "peak_rss_mb": (res["peak_mem"] / 2**20, "MB"),
        "bytes_written_per_triple": (written / expected["triples"], "B/triple"),
    }


def per_layer(traced: dict, expected: dict) -> dict:
    """Per-layer figures of the traced job, with the tracer's own cost."""
    rows = traced["rows"]
    out = {name: (value, unit_of(name)) for name, value in traced["layers"].items()}
    turns = expected.get("turns")
    mentions = rows.get("extract_mentions", 0)
    out["functions.extraction.mentions_per_turn"] = (mentions / turns if turns else 0.0, "mentions/turn")
    out["functions.linking.linked_ratio"] = (
        rows.get("link_mentions", 0) / mentions if mentions else 0.0,
        "ratio",
    )
    out["operators.normalize.inferred_triples"] = (
        rows.get("normalize", 0) - rows.get("normalize_input", 0),
        "count",
    )
    out["trace.job_s"] = (traced["jobs"][0]["s"], "s")
    out["trace.overhead_s"] = (traced["bookkeeping_s"], "s")
    out["trace.forced_outputs"] = (traced["forced"], "count")
    return out


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(JOBS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--session", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.session:
        return session_main(args.session)
    if not args.workload:
        ap.error("--workload is required")

    import pyspark

    # a terminated run unwinds (run_session kills its session group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    try:
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "cores": CORES,
            "jvm_heap": HEAP,
            "loadavg_start": os.getloadavg(),
            "cpu_probe_s": cpu_probe_s(),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        }
        path, expected = generate(args.workload, args.seed)
        record["input"] = {
            "bytes": os.path.getsize(path),
            **{k: v for k, v in expected.items() if k != "violations"},
        }
        spec = {
            "workload": args.workload,
            "input": path,
            "expected": expected,
            "traced": bool(args.trace),
            "seconds": 0 if args.trace else args.seconds,  # traced: one cold job
            "work": os.path.join(WORK, "session"),
        }
        os.makedirs(spec["work"])
        res = run_session(spec, deadline)
        record["loadavg_end"] = os.getloadavg()
        if res is None:
            return 1
        record["java"] = res.pop("java")
        record["session"] = res
        jobs = res["jobs"]
        failed = sum(not j["ok"] for j in jobs)
        metrics = per_layer(res, expected) if args.trace else end_to_end(res, expected)
        print(json.dumps(record))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(jobs),
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())

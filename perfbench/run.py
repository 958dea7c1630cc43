"""Benchmark of the gdal_spark engine: each workload runs on one warm
``local[nproc]`` session. See NOTES.md for what each measures.

    python3 perfbench/run.py --workload pipeline --seed 0 --seconds 24 --trace 0
    python3 perfbench/run.py --all [--seed 0] [--seconds 24]

One run starts ``driver.py`` in a new session, samples the summed
memory of it and its Python workers from this process, records the host
signature, and prints one JSON result line last. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a run with
the Spark event log, the GC log and job labels on. ``--all`` makes an
untraced and a traced run of every workload and prints every end-to-end
metric with the tracing overhead.

Run it from the repository root. Each run keeps its record under
``perfbench/records/``; its scratch directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["pipeline", "query_mix"]
DEADLINE_S = 160
PAGE = os.sysconf("SC_PAGE_SIZE")
MIB = 1024 * 1024


def alu_probe() -> float:
    """Seconds for a fixed pure-Python integer loop (host speed probe)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_mhz() -> float:
    with open("/proc/cpuinfo") as f:
        mhz = [float(line.split(":")[1]) for line in f if line.startswith("cpu MHz")]
    return sum(mhz) / len(mhz) if mhz else 0.0


def session_procs(sid: int) -> list[tuple[int, str, int]]:
    """(pid, command name, RSS bytes) of every live process in session
    ``sid``. The session, not the process group: PySpark's worker daemon
    moves itself and the workers it forks into a process group of their
    own, but they stay in the driver's session."""
    procs = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            procs.append((int(pid), comm, int(fields[21]) * PAGE))
    return procs


def session_rss(sid: int) -> tuple[int, int]:
    """(Python RSS bytes, JVM RSS bytes) summed over a session."""
    py = jvm = 0
    for _, comm, rss in session_procs(sid):
        if comm == "java":
            jvm += rss
        elif comm.startswith("python"):
            py += rss
    return py, jvm


def stop_session(sid: int):
    """Kill what is left of the session and wait until it is gone."""
    for _ in range(100):
        procs = session_procs(sid)
        if not procs:
            return
        for pid, _, _ in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """One benchmark run; returns its record, or None if it failed."""
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    out = os.path.join(work, "record.json")
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = work
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    host = {"nproc": len(os.sched_getaffinity(0)), "mhz": cpu_mhz(),
            "alu_start": alu_probe()}
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "driver.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--work", work, "--out", out, "--t0", repr(t0)],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    py_peak = jvm_peak = 0
    try:
        while proc.poll() is None:
            if time.time() - t0 > DEADLINE_S:
                print(f"{workload}: over {DEADLINE_S} s, stopped", file=sys.stderr)
                break
            py, jvm = session_rss(proc.pid)
            py_peak, jvm_peak = max(py_peak, py), max(jvm_peak, jvm)
            time.sleep(0.25)
    finally:
        stop_session(proc.pid)
        proc.wait()
    record = None
    if proc.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            record = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if record is None:
        return None
    host["alu_end"] = alu_probe()
    host["steal_pct"] = record.pop("steal_pct")
    record["host"] = host
    record["end_to_end"]["py_rss_mb"] = py_peak / MIB
    record["jvm_rss_peak_mb"] = jvm_peak / MIB
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    name = f"{workload}-seed{seed}-trace{trace}-{int(t0)}.json"
    with open(os.path.join(HERE, "records", name), "w") as f:
        json.dump(record, f)
    return record


def benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def declared_units() -> tuple[dict, dict]:
    """name -> unit of the end-to-end and the per-layer metrics, as
    BENCHMARK.json declares them."""
    bench = benchmark()
    return tuple(
        {m["name"]: m["unit"] for m in bench[key]} for key in ("end_to_end", "per_layer")
    )


def layer_metrics(record: dict) -> dict:
    layers = record["layers"]
    m = dict(layers["metrics"])
    host = record["host"]
    m["proc.jvm_rss_peak_mb"] = record["jvm_rss_peak_mb"]
    m.update({f"host.{k}": float(v) for k, v in host.items()})
    return m


def latest_untraced(workload: str) -> dict | None:
    """The newest untraced record of a workload, if any."""
    paths = glob.glob(os.path.join(HERE, "records", f"{workload}-*-trace0-*.json"))
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


def overhead(traced: dict, untraced: dict) -> dict:
    return {k: traced["end_to_end"][k] - v for k, v in untraced["end_to_end"].items()}


def print_record(record: dict):
    print(f"== {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"ops={record['ops']} failed_ops={record['failed_ops']} "
          f"passes={record['passes']} host={json.dumps(record['host'])}")
    print(f"   outputs: {json.dumps(record.get('outputs'))}")
    units = declared_units()[0]
    for k, v in record["end_to_end"].items():
        print(f"   {k:14s} {v:14.4f} {units[k]}")
    print(f"   {'pass_s':14s} {record['pass_s']:14.4f} s (median pass wall; not gated)")
    if "layers" in record:
        cols = ["wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "task_skew", "driver_gap_s",
                "python_boot_s", "python_init_s", "python_udf_s",
                "python_sent_mb", "python_received_mb"]
        print("   label " + " ".join(cols))
        for row in record["layers"]["rows"]:
            print(f"   {row['label']} " + " ".join(f"{row[c]:.4g}" for c in cols))
        print(f"   trace checks: {json.dumps(record['layers']['checks'])}")


def result_line(record: dict, trace: int) -> dict:
    """The result object: exactly the metrics BENCHMARK.json declares for
    this mode (a missing one raises)."""
    e2e_units, layer_units = declared_units()
    if trace:
        values, units = layer_metrics(record), layer_units
        correct = record["layers"]["checks"]["ok"]
    else:
        values, units = record["end_to_end"], e2e_units
        correct = True
    if set(values) != set(units):
        raise ValueError(f"metrics differ from BENCHMARK.json: {set(values) ^ set(units)}")
    return {
        "correct": correct and record["failed_ops"] == 0,
        "attempted": record["ops"],
        "failed": record["failed_ops"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="untraced and traced run of every workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float,
                    help="timed seconds per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        print(f"no gdal_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = benchmark()["run_seconds"]
    if args.all:
        failures = 0
        for workload in WORKLOADS:
            plain = run_once(workload, args.seed, args.seconds, 0)
            traced = run_once(workload, args.seed, args.seconds, 1)
            for record in (plain, traced):
                if record is None:
                    print(f"== {workload}: run failed")
                    failures += 1
                    continue
                print_record(record)
                failures += record["failed_ops"] > 0
            if plain and traced:
                failures += not traced["layers"]["checks"]["ok"]
                print("   tracing overhead (traced - untraced): " + json.dumps(
                    {k: round(v, 4) for k, v in overhead(traced, plain).items()}))
        return 1 if failures else 0
    if args.workload is None:
        ap.error("--workload or --all is required")
    record = run_once(args.workload, args.seed, args.seconds, args.trace)
    if record is None:
        return 1
    print_record(record)
    if args.trace:
        untraced = latest_untraced(args.workload)
        if untraced is not None:
            print("   tracing overhead vs the last untraced record: " + json.dumps(
                {k: round(v, 4) for k, v in overhead(record, untraced).items()}))
    print(json.dumps(result_line(record, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

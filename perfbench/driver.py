"""Runs one workload on one warm ``local[nproc]`` Spark session and
writes its run record as JSON to ``--out``.

Started by ``run.py``, which samples memory from outside this process
and prints the result line. Everything before the first timed pass is
set-up; the timed passes then fill ``--seconds`` (see ``Run.timed``).
With ``--trace 1`` the Spark event log and the JVM GC log are on, each
call into a layer runs under its own job-group label, and the logs are
parsed into one row per label after the session stops.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

import workloads as wl

# Pipeline passes keep getting faster for about ten passes (JIT, at a
# rate that differs between processes). Four warm passes and the 24 s
# timed window of BENCHMARK.json leave about seven timed passes, so the
# median pass sits near the end of that curve and one slow pass does not
# move a stage's median, within the run-time budget.
PIPELINE_WARM_PASSES = 4
PIPELINE_MIN_PASSES = 3
# Two query_mix passes fill the timed window: each query gets a median of
# two.
QUERY_MIX_MIN_PASSES = 2


class Spans:
    """Wall time of each call into a layer, keyed by a label that is also
    the Spark job group of every job the call starts (traced runs)."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.rows: list[dict] = []
        self.prefix = ""

    @contextlib.contextmanager
    def span(self, op: str):
        label = f"{self.prefix}/{op}"
        if self.traced:
            self.sc.setJobGroup(label, label)
        t0 = time.time()
        try:
            yield
        finally:
            self.rows.append({"label": label, "op": op, "t0": t0, "t1": time.time()})
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def walls(self, phase: str) -> dict[str, list[float]]:
        """op -> wall seconds of every span whose label starts with phase."""
        out: dict[str, list[float]] = {}
        for r in self.rows:
            if r["label"].startswith(phase):
                out.setdefault(r["op"], []).append(r["t1"] - r["t0"])
        return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


class Run:
    def __init__(self, args, spark, session_s: float):
        self.args = args
        self.spark = spark
        self.spans = Spans(spark.sparkContext, bool(args.trace))
        self.session_s = session_s
        self.ops = 0
        self.failed = 0
        self.last_out = None
        self.pass_walls: list[float] = []
        self.extra: dict = {}

    def attempt(self, fn, check) -> bool:
        """One timed operation: it fails if it raises or its output does
        not match the pinned one."""
        self.ops += 1
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False
        if not check(out):
            print(f"output mismatch: {out!r}", file=sys.stderr)
            self.failed += 1
            return False
        self.last_out = out
        return True

    def timed(self, one_pass, min_passes: int):
        """Run ``one_pass`` (True when all its operations succeeded)
        ``min_passes`` times, then again while a pass as long as the last
        one still ends within ``--seconds``; keep the wall time of each
        successful pass. Stopping before a pass that would overrun keeps a
        run within its window, and keeps query_mix, whose passes take
        about half of it, at two passes rather than sometimes three."""
        self.t_timed = time.time()
        steal0, total0 = cpu_times()
        k = 0
        last = 0.0
        while k < min_passes or time.time() - self.t_timed + last <= self.args.seconds:
            self.spans.prefix = f"timed{k}"
            t0 = time.time()
            ok = one_pass()
            last = time.time() - t0
            if ok:
                self.pass_walls.append(last)
            k += 1
        self.t_end = time.time()
        steal1, total1 = cpu_times()
        self.steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)

    # -- workloads ---------------------------------------------------------

    def pipeline(self):
        job = wl.Pipeline(self.spark, self.args.seed, self.args.work)
        for k in range(PIPELINE_WARM_PASSES):
            self.spans.prefix = f"setup{k}"
            job.run_pass(self.spans.span)
        self.timed(lambda: self.attempt(lambda: job.run_pass(self.spans.span), job.check),
                   PIPELINE_MIN_PASSES)
        names = ["n_distinct_cells", "join_pairs", "phash_dup_groups",
                 "tiles_rendered", "committed_rows"]
        self.extra["outputs"] = dict(zip(names, self.last_out or ()))
        self.extra["commit_bytes"] = job.commit_bytes
        self.extra["commit_files"] = job.commit_files
        if self.args.trace:
            # a diagnostic after the timed window: not an operation
            self.spans.prefix = "diag"
            with self.spans.span("join_candidates"):
                self.extra["join_candidates"] = job.join_candidates()

    def query_mix(self):
        job = wl.QueryMix(self.spark, self.args.seed)
        self.spans.prefix = "setup0"
        for name in job.order:
            job.run_query(name, self.spans.span)

        def one_pass() -> bool:
            return all([
                self.attempt(lambda: job.run_query(name, self.spans.span),
                             lambda rows: job.check(name, rows))
                for name in job.order
            ])

        self.timed(one_pass, QUERY_MIX_MIN_PASSES)
        self.extra["outputs"] = {"order": job.order}

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict:
        """The gated metrics. An operation is a pipeline stage or a query;
        the pass wall (``pass_s`` in the record) is not among them, as it
        is ``total_s`` again plus the time between operations."""
        walls = self.spans.walls("timed")
        op_medians = {op: wl.median(v) for op, v in walls.items()}
        return {
            "setup_s": self.t_timed - self.args.t0,
            "total_s": sum(op_medians.values()),
            "query_p50_s": wl.median(list(op_medians.values())),
        }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pipeline", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--work", required=True, help="scratch directory")
    ap.add_argument("--out", required=True, help="run record path")
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch seconds at which the process was started")
    args = ap.parse_args()

    from gdal_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    gc_log = os.path.join(args.work, "gc.log")
    event_dir = os.path.join(args.work, "events")
    # everything the JVM writes stays in the scratch directory
    # (-XX:-UsePerfData: no /tmp/hsperfdata_<user>)
    java_opts = f"-Djava.io.tmpdir={args.work} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.driver.extraJavaOptions": f"{java_opts} -Xlog:gc:file={gc_log}",
        })
    t = time.time()
    spark = get_spark(f"perfbench_{args.workload}", cores=nproc, extra_conf=conf)
    run = Run(args, spark, time.time() - t)
    try:
        getattr(run, args.workload)()
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "ops": run.ops,
            "failed_ops": run.failed,
            "passes": len(run.pass_walls),
            "pass_walls": run.pass_walls,
            "pass_s": wl.median(run.pass_walls),
            "session_s": run.session_s,
            "steal_pct": run.steal_pct,
            "end_to_end": run.end_to_end(),
            "spans": run.spans.rows,
            "timed_window": [run.t_timed, run.t_end],
            **run.extra,
        }
    finally:
        spark.stop()
    if args.trace:
        import eventlog

        record["layers"] = eventlog.analyse(record, event_dir, gc_log)
    with open(args.out, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()

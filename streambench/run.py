"""Stream-store benchmark: one workload, one seed, one JSON result line.

    python3 streambench/run.py --workload hot_append --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository; the checkout is put
on ``PYTHONPATH`` for the run, so no install is needed. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``.
Every workload reports every metric of ``BENCHMARK.json``:
``--trace 0`` the end-to-end metrics; with ``--trace 1`` each child
runs the workload's untraced pass and then, in the same process, a
traced pass, and the run reports the per-layer metrics of the traced
pass plus ``overhead.<metric>`` (traced minus untraced) for each timed
end-to-end metric. Set-up is not traced: a traced run sets up as often
as an untraced one, so a JVM workload's traced run stays within the
180 s a run may take. The workload's own, finer metrics go to
``.streambench/layers/<workload>-seed<seed>.json``. ``BENCHMARK.json`` at
the checkout root gives the units; ``streambench/LAYERS.md`` says what
every metric measures in each workload and maps it to its layer.

A run sets up in child processes: a workload sets up ``SETUPS`` times
per run and ``setup_s`` is the median of those set-ups, each timed from
the start of its process to its first timed operation. Every child gets
its own store root, ``SPARK_LOCAL_DIRS``, temp dir and working directory
under ``.streambench/`` in the checkout; all are removed at exit, and each
child's Spark JVM is shut down before the next child starts.

``--fault`` corrupts the observed output before the checks (see
``checks.py``), ``--smoke`` shrinks every workload for the benchmark's
own tests. The exit code is 0 only if every operation and every check
succeeded.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import checks  # noqa: E402
from stats import median  # noqa: E402

# Set-ups per run. A JVM workload's set-up costs 15-35 s, so it sets up
# once; the JVM-free hot_append sets up three times and splits its
# measured window across them.
SETUPS = {"hot_append": 3, "tail_read": 1, "query_mix": 1}
FAULTS = {"hot_append": checks.STREAM_FAULTS, "tail_read": checks.STREAM_FAULTS,
          "query_mix": checks.QUERY_FAULTS}
DEADLINE_S = 175.0  # every run ends within 180 s
WORK_DIR = ".streambench"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SETUPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", help="inject a fault into the observed output (see checks.py)")
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    p.add_argument("--child", type=int, help=argparse.SUPPRESS)
    p.add_argument("--workdir", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if args.fault is not None and args.fault not in FAULTS[args.workload]:
        p.error(f"--fault for {args.workload} is one of {', '.join(FAULTS[args.workload])}")
    return args


# ------------------------------------------------------------------ child
class Context:
    """One child process: its inputs, work dir, tracer and Spark session."""

    def __init__(self, args: argparse.Namespace) -> None:
        from spans import NullTracer, Tracer

        self.seed, self.seconds, self.smoke, self.fault = args.seed, args.seconds, args.smoke, args.fault
        self.child, self.workdir = args.child, args.workdir
        self.t0 = float(os.environ["STREAMBENCH_T0"])
        self.tracer = Tracer() if args.trace else NullTracer()
        self.setup_s: float | None = None
        self.spark = None
        self.session_start_s: float | None = None

    def mark_timed(self) -> None:
        """Called right before the first timed operation (later calls, from
        a traced pass after the untraced one, keep the first)."""
        if self.setup_s is None:
            self.setup_s = time.time() - self.t0

    def session(self):
        from pravega_spark import session

        t = time.perf_counter()
        self.spark = session.get_spark("streambench")
        self.session_start_s = time.perf_counter() - t
        if self.tracer.enabled:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def run_child(args: argparse.Namespace) -> int:
    ctx = Context(args)
    mod = importlib.import_module(args.workload)
    try:
        res = mod.run(ctx)
        if ctx.tracer.enabled:
            spans_dir = os.path.join(ROOT, WORK_DIR, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}-{args.child}.jsonl")
            ctx.tracer.dump(path)
            res["span_file"] = path
    finally:
        ctx.tracer.uninstall()
        ctx.close()
    res["setup_s"] = ctx.setup_s
    print(json.dumps(res))
    return 0


# ----------------------------------------------------------------- parent
def child_env(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # get_spark's default (16g) is above this host's RAM
        "SPARK_DRIVER_MEMORY": f"{max(512, min(2048, ram // 4 // 2**20))}m",
        # Spark's Python workers import pravega_spark from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote('-XX:-UsePerfData -Djava.io.tmpdir=' + tmp)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return env


def _session_pids(sid: int) -> list[int]:
    """Live processes of a session. Spark's Python workers move to process
    groups of their own but stay in the session the child started."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                state, _ppid, _pgrp, session = fh.read().rsplit(")", 1)[1].split()[:4]
        except (OSError, ValueError):
            continue
        if int(session) == sid and state != "Z":
            pids.append(int(entry))
    return pids


def _reap_session(sid: int) -> None:
    """Stop whatever is left of a child's session and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)


def spawn(args: argparse.Namespace, index: int, traced: bool, seconds: float, base: str, deadline: float) -> dict:
    workdir = os.path.join(base, f"child-{index}")
    os.makedirs(workdir)
    env = child_env(workdir)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", repr(seconds), "--trace", "1" if traced else "0",
           "--child", str(index), "--workdir", workdir]
    if args.fault:
        cmd += ["--fault", args.fault]
    if args.smoke:
        cmd.append("--smoke")
    env["STREAMBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        _reap_session(proc.pid)
        proc.wait()
        raise RuntimeError(f"{args.workload} child {index} ran past the deadline") from None
    finally:
        _reap_session(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"{args.workload} child {index} exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def load_spec() -> tuple[list[str], list[str], dict[str, str]]:
    """End-to-end and per-layer metric names of ``BENCHMARK.json``, and
    every metric's unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]], units


def end_to_end(mod, results: list[dict]) -> dict[str, float]:
    out = {"setup_s": median([r["setup_s"] for r in results])}
    out.update(mod.summarize(results))
    return out


def run_parent(args: argparse.Namespace) -> int:
    if not os.path.isdir(os.path.join(ROOT, "pravega_spark")):
        print(f"no pravega_spark package under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    e2e_names, layer_names, units = load_spec()
    mod = importlib.import_module(args.workload)
    deadline = time.monotonic() + DEADLINE_S
    k = SETUPS[args.workload]
    seconds = args.seconds / k
    base = os.path.join(ROOT, WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(base)
    try:
        children = [spawn(args, i, bool(args.trace), seconds, base, deadline) for i in range(k)]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    attempted = sum(r["attempted"] for r in children)
    failed = sum(r["failed"] for r in children)
    plain = end_to_end(mod, children)
    if args.trace:
        layers = {name: median([r["layers"][name] for r in children]) for name in children[0]["layers"]}
        traced_e2e = mod.summarize([{"raw": r["traced_raw"]} for r in children])
        for name, value in traced_e2e.items():
            layers[f"overhead.{name}"] = value - plain[name]
        metrics = {name: layers.pop(name) for name in layer_names}
        # the workload's own metrics, beyond those every workload reports
        detail = {"end_to_end": {n: v for n, v in plain.items() if n not in e2e_names}, "per_layer": layers}
        os.makedirs(os.path.join(ROOT, WORK_DIR, "layers"), exist_ok=True)
        path = os.path.join(ROOT, WORK_DIR, "layers", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
        checks.log(f"workload detail metrics in {path}")
    else:
        metrics = {name: plain[name] for name in e2e_names}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.child is not None:
        return run_child(args)
    signal.signal(signal.SIGTERM, _terminate)
    return run_parent(args)


if __name__ == "__main__":
    sys.exit(main())

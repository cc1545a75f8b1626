"""The repo benchmark: stored-table scans and rollups, end to end.

    python3 perfbench/run.py --workload bulk_scan --seed 1 --seconds 5 --trace 0

Run from the repository root.  Workloads (README.md says why each exists):

* ``bulk_scan``      one ``run_resumable_scan`` per operation over a table of
                     unique turns, ~1% of them planted with triggers;
* ``small_scans``    one ``run_resumable_scan`` per freshly landed 10k-turn
                     increment of templated text, ~10% triggered;
* ``rollup_queries`` severity counts, the salted per-conversation rollup
                     and rule-match counts over a table of unique turns.

Each run generates its inputs from ``--seed`` (cached per seed), computes
the DuckDB oracle's answer (cached per table), times ``setup_s`` over
several fresh driver processes, runs the workload in one fresh driver
process as a closed loop (one caller; the next operation starts when the
previous one ends) for ``--seconds``, and checks every operation's output.
The last stdout line is the JSON result; the line before it is a report
with the inputs' measured properties, sample counts and the environment.

``--trace 1`` runs the same loop and then splits the wall time across the
program's layers (layers.py) and prints those per-layer metrics instead.
``--smoke`` runs at sf0.001-scale inputs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bulk_scan", "small_scans", "rollup_queries")
SETUP_PROBES = 1  # extra setup-only processes besides the run's own
RUN_DEADLINE_S = 170  # hard stop for the whole invocation
TABLES_KEPT = 24  # generated tables kept in the work dir (oldest pruned)
# warm rounds per run at least (a round is one operation, or one of each
# query for rollup_queries)
MIN_ROUNDS = {"bulk_scan": 1, "small_scans": 2, "rollup_queries": 1}
DRIVER_MEM = "2g"  # below this host's RAM; session.py defaults to 24g


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# --------------------------------------------------------------- environment


def pinned_env(root: str, work: str, scratch: str) -> dict:
    """The pinned environment every driver process gets; Spark's local
    and temporary files go under `scratch`, which the run removes."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_TABLE_DIR": os.path.join(work, "tables"),
            "SPARK_GRAFT_TABLE_FORMAT": "parquet",
            # Python workers import loki_rs_spark from the checkout
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    # a fixed, pre-touched driver heap: unpinned, peak RSS follows when the
    # JVM happens to grow its heap rather than what the program holds
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" '
        "pyspark-shell"
    )
    env.pop("SPARK_GRAFT_ARROW_BATCH", None)
    return env


def environment_record() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(),
        "cpu_model": model,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "driver_mem": DRIVER_MEM,
        "host_probe_s": host_probe(),
    }


def host_probe() -> float:
    """Wall of a fixed single-thread hashing loop: recorded beside the
    results so runs on a throttled host can be told apart; never waited
    on."""
    block = b"\x5a" * (1 << 20)
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    return time.perf_counter() - t


# ------------------------------------------------------------- processes


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants (the driver
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        stat = _proc_stat()
        children: dict[int, list[int]] = {}
        for pid, fields in stat.items():
            children.setdefault(int(fields[1]), []).append(pid)
        total, frontier = 0, [self.pid] if self.pid in stat else []
        while frontier:
            pid = frontier.pop()
            fields = stat[pid]
            ppid = int(fields[1])
            parent = stat.get(ppid)
            # a child the JVM spawns (vfork/posix_spawn, e.g. Hadoop's
            # shell-outs while writing files) shares the JVM's memory until
            # it execs, and reports the JVM's RSS as its own: same address
            # space size and stack, or, when the JVM maps memory between
            # the two reads, still the JVM's executable; count that memory
            # once
            shared = parent is not None and pid != self.pid and (
                (parent[20], parent[25]) == (fields[20], fields[25])
                or _is_unexeced_jvm_child(pid, ppid)
            )
            if not shared:
                total += int(fields[21]) * self._page
            frontier.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _is_unexeced_jvm_child(pid: int, ppid: int) -> bool:
    exe = _exe(pid)
    return os.path.basename(exe) == "java" and exe == _exe(ppid)


def spawn_worker(conf: dict, env: dict, work: str, deadline: float,
                 rss: bool = False) -> dict:
    """Start one driver process and stop it (with its JVM and Python
    workers) once it reports its last event: `ready` for a setup probe,
    `done` for a run.  Returns the setup time (spawn -> ready) and, with
    `rss`, the peak RSS of its process tree."""
    path = os.path.join(work, f"worker-{conf['mode']}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(conf, f)
    last = "ready" if conf["mode"] == "setup" else "done"
    log_path = os.path.join(work, f"worker-{conf['mode']}.log")
    with open(log_path, "w") as log:
        t = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), path],
            stdout=subprocess.PIPE, stderr=log, env=env, text=True,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid) if rss else None
        if sampler:
            sampler.start()
        ready, finished = None, False
        timer = threading.Timer(
            max(1.0, deadline - time.time()), _stop_session, (proc.pid,)
        )
        timer.start()
        try:
            for line in proc.stdout:
                if not line.startswith("PERFBENCH "):
                    continue
                event = json.loads(line[len("PERFBENCH "):])["event"]
                if event == "ready" and ready is None:
                    ready = time.perf_counter() - t
                if event == last:
                    finished = True
                    break
        finally:
            timer.cancel()
            _stop_session(proc.pid)
            proc.stdout.close()
            proc.wait()
            _wait_session_gone(proc.pid)
            peak = sampler.stop() if sampler else 0
    os.remove(path)
    if not finished:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(
            f"worker ({conf['mode']}) exited {proc.returncode}:\n{tail}"
        )
    return {"setup_s": ready, "peak_rss": peak}


def _session_pids(sid: int) -> list[int]:
    """Processes of a driver's session, zombies included.  The worker is
    started in a session of its own; PySpark's Python daemon moves itself
    and its workers into a process group of their own, but not out of the
    session."""
    return [pid for pid, f in _proc_stat().items() if int(f[3]) == sid]


def _stop_session(sid: int) -> None:
    """SIGKILL every process of a driver's session: the worker, its JVM
    and the JVM's Python daemon and workers."""
    for pid in _session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass


def _wait_session_gone(sid: int, timeout: float = 30.0) -> None:
    """Kill the session until none of its processes is left, reaping the
    orphans that were re-parented to this process (a child subreaper).  A
    killed JVM stays a zombie that cannot be reaped until all its threads
    have exited, so zombies are waited for too."""
    end = time.time() + timeout
    while True:
        _stop_session(sid)
        _reap_children()
        if not _session_pids(sid) or time.time() >= end:
            break
        time.sleep(0.05)
    _reap_children()


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process rather than
    to init, so they can be waited for before the run exits."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _proc_stat() -> dict[int, list[str]]:
    """/proc/<pid>/stat of every process, as the fields after the command
    name: [state, ppid, pgrp, session, ...], vsize at 20, rss pages at 21,
    startstack at 25."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


# ------------------------------------------------------------- the run


def prune_tables(tables_root: str, keep: set[str]) -> None:
    entries = [
        os.path.join(tables_root, d) for d in os.listdir(tables_root)
        if not d.startswith(".") and ".tmp-" not in d
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for path in entries[TABLES_KEPT:]:
        if path not in keep:
            shutil.rmtree(path, ignore_errors=True)


def verify(records: list, meta: dict, expected: list, sigs, cfg,
           seed: int) -> list[list[str]]:
    """Per-operation mismatches against the oracle (and, on the first
    scan, against the reference scanner)."""
    import expect

    out = []
    for i, rec in enumerate(records):
        if rec["error"]:
            out.append([rec["error"]])
            continue
        want = expected[rec["table"]]
        if rec["op"] == "scan":
            errs = expect.check_scan_output(rec["out_dir"], want)
            if i == 0:
                errs += expect.reference_sample(
                    meta["dirs"][rec["table"]], rec["out_dir"], sigs, cfg,
                    seed,
                )
        else:
            errs = expect.check_query_result(rec["op"], rec["rows"], want)
        out.append(errs)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-scale inputs, one short round")
    args = ap.parse_args(argv)
    deadline = time.time() + RUN_DEADLINE_S
    _become_subreaper()
    # on SIGTERM, unwind through the `finally` that stops the driver
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "loki_rs_spark", "__init__.py")):
        return fail("run from the repository root (no loki_rs_spark/ here)")
    if not os.path.isdir(os.path.join(root, "signatures", "iocs")):
        return fail("no signatures/ directory in the repository root")
    sys.path[:0] = [root, HERE]

    import expect
    import gen
    from loki_rs_spark.config import DEFAULT_CONFIG
    from loki_rs_spark.signatures import load_signature_set

    work = os.path.join(root, ".perfbench_work")
    tables_root = os.path.join(work, "tables")
    os.makedirs(tables_root, exist_ok=True)
    tempfile.tempdir = work  # DuckDB spill files stay in the checkout
    scratch = os.path.join(work, f"run-{os.getpid()}")
    env = pinned_env(root, work, scratch)
    record = environment_record()

    t = time.perf_counter()
    meta = gen.build(args.workload, args.seed, tables_root, smoke=args.smoke)
    gen_s = time.perf_counter() - t
    sigs = load_signature_set(os.path.join(root, "signatures"))
    t = time.perf_counter()
    expected = expect.expectations(meta, sigs, DEFAULT_CONFIG)
    oracle_s = time.perf_counter() - t
    prune_tables(tables_root, {meta["path"]})

    out_root = os.path.join(scratch, "out")
    conf = {
        "workload": args.workload,
        "tables": meta["dirs"],
        "rows_per_table": meta["spec"]["rows"],
        "expected_routed": expected[0]["routed"],
        "sig_dir": os.path.join(root, "signatures"),
        "out_root": out_root,
        "result_path": os.path.join(scratch, "result.json"),
        "seconds": args.seconds,
        "min_rounds": MIN_ROUNDS[args.workload],
        "trace": args.trace,
        "cores": os.cpu_count() or 1,
    }
    try:
        setups = [
            spawn_worker({**conf, "mode": "setup"}, env, work, deadline)[
                "setup_s"]
            for _ in range(0 if args.smoke or args.trace else SETUP_PROBES)
        ]
        main_run = spawn_worker({**conf, "mode": "run"}, env, work, deadline,
                                rss=True)
        setups.append(main_run["setup_s"])
        with open(conf["result_path"]) as f:
            result = json.load(f)
        records = result["records"]
        errors = verify(records, meta, expected, sigs, DEFAULT_CONFIG,
                        args.seed)
    except (RuntimeError, OSError, ValueError) as exc:
        return fail(str(exc))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    failed = sum(1 for e in errors if e)
    warm = [r for r in records if r["phase"] == "warm"]
    warm_walls = [r["wall_s"] for r in warm]
    rows = meta["spec"]["rows"]
    end_to_end = {
        "setup_s": (statistics.median(setups), "s"),
        "first_op_s": (result["first_op_s"], "s"),
        "turns_per_s": (rows * len(warm) / sum(warm_walls), "1/s"),
        "op_p50_s": (statistics.median(warm_walls), "s"),
        "peak_rss_mb": (main_run["peak_rss"] / 2**20, "MB"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": meta["measured"],
        "tables": len(meta["dirs"]),
        "oracle_routed": [e["routed"] for e in expected],
        "ops_warm": len(warm),
        "op_samples": {
            name: len([r for r in warm if r["op"] == name])
            for name in sorted({r["op"] for r in warm})
        },
        "op_walls_s": [round(r["wall_s"], 3) for r in records],
        "op_phases": [r["phase"] for r in records],
        "failed_ratio": failed / len(records),
        "errors": [e for e in errors if e][:3],
        "setup_samples_s": setups,
        "generate_s": gen_s,
        "oracle_s": oracle_s,
        "env": record,
    }
    if args.trace:
        ratio = result["layers"]["trace.layer_sum_ratio"]
        report["layer_sum_ratio"] = ratio
        if args.workload != "rollup_queries":
            # a scan's layers must account for its wall within ~10%
            report["layers_sum_to_wall"] = abs(ratio - 1) <= 0.1
        metrics = {
            k: {"value": v, "unit": layer_unit(k)}
            for k, v in sorted(result["layers"].items())
        }
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("us_per_row"):
        return "us"
    if name.endswith(("_fraction", "_ratio", "task_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

"""The repo's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Workloads (see BENCHMARK.json and README.md): ``extract`` runs in one
child Spark session (``worker.py``); ``curation`` runs the unmodified
``scripts/run_curation.py`` as a child process. Everything runs at
``local[nproc]`` with driver memory sized from MemTotal, through a
generated ``spark-defaults.conf``; every file the run touches lives
under ``.perfbench_work/`` in the checkout.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload once untraced and once with the Spark event log on, reads the
log (``tracing.py``), runs the kernel functions without Spark
(``kernel.py``) and prints the per-layer metrics; its per-layer table,
with the unaccounted remainder and the tracing overhead, and its spans
go to ``.perfbench_work/artifacts/``. The last stdout line is always
the result JSON; the line before it is the run's artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus   # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("extract", "curation")
CURATION_SCRIPT = os.path.join(ROOT, "scripts", "run_curation.py")

#: workload sizes; ``smoke`` is the sf0.001-sized variant
SIZES = {
    "full": {"docs": 5000, "fanout": 8},
    "smoke": {"docs": 500, "fanout": 2},
}

#: the curation funnel the fixed corpus must produce at each size
#: (seed-invariant: a seed only shuffles the row order)
CURATION_FUNNEL = {
    "full": {"warc_records": 15000, "input_turns": 5000,
             "after_quality": 3911, "after_lang": 1142,
             "after_dedup": 1070},
    "smoke": {"warc_records": 1500, "input_turns": 500,
              "after_quality": 398, "after_lang": 92, "after_dedup": 87},
}

SETUP_REPS = 3
KERNEL_SAMPLE = 2000
CHILD_TIMEOUT_S = 170


# ---------------------------------------------------------------- host

def host_info() -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    try:
        # the ceiling keeps git from reading repositories above ROOT
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "commit": commit}


def driver_memory_gb(mem_total_mb: int) -> int:
    """A twelfth of the host's memory, between 1 and 4 GB: the host is
    shared, and the largest workload caches ~30 MB."""
    return max(1, min(4, mem_total_mb // 12 // 1024))


def write_conf(path: str, work: str, mem_gb: int, events: str | None):
    os.makedirs(path, exist_ok=True)
    lines = [
        f"spark.driver.memory {mem_gb}g",
        f"spark.local.dir {work}/spark-local",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={work}/tmp",
        f"spark.sql.warehouse.dir {work}/warehouse",
        "spark.ui.enabled false",
    ]
    if events:
        os.makedirs(events, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{events}",
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.compress false",
            "spark.eventLog.logStageExecutorMetrics true",
            "spark.eventLog.logBlockUpdates.enabled true",
        ]
    with open(os.path.join(path, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


# ------------------------------------------------------------ processes

def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every live, non-zombie process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = (int(fields[1]), int(fields[2]))
    return out


def _rss_mb(pids) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


def _tree(root: int, procs: dict[int, tuple[int, int]]) -> set[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, ()))
    return out


class Child:
    """A child process whose process tree's resident memory is sampled
    from /proc while it runs. The tree spans several process groups
    (PySpark's worker daemon makes its own); every group seen is
    killed and waited for when the child ends."""

    def __init__(self, cmd, env, cwd, log_path):
        self.log = open(log_path, "ab")
        self.t_spawn = time.monotonic()
        self.proc = subprocess.Popen(cmd, env=env, cwd=cwd,
                                     stdout=subprocess.PIPE,
                                     stderr=self.log,
                                     start_new_session=True)
        self.peak_rss_mb = 0.0
        self.peak_procs = 0
        self.groups = {self.proc.pid}
        self._done = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self):
        while not self._done.wait(0.1):
            procs = _procs()
            tree = _tree(self.proc.pid, procs)
            self.groups.update(procs[p][1] for p in tree)
            self.peak_rss_mb = max(self.peak_rss_mb, _rss_mb(tree))
            self.peak_procs = max(self.peak_procs, len(tree))

    def wait(self, timeout: float) -> tuple[int, list[str]]:
        try:
            out, _ = self.proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            out, _ = self.proc.communicate()
        self.t_exit = time.monotonic()
        self._done.set()
        self._sampler.join()
        self.log.close()
        reap_groups(self.groups)
        return self.proc.returncode, out.decode(errors="replace").splitlines()


def reap_groups(groups: set[int]) -> None:
    """Kill whatever is left of a child's process groups and wait until
    none of it is alive."""
    deadline = time.monotonic() + 20
    while True:
        left = [p for p, (_, g) in _procs().items() if g in groups]
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} outlived their run")
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


# ------------------------------------------------------------ workloads

class Run:
    """State of one invocation: sizes, directories, child environment."""

    def __init__(self, args, host):
        self.args = args
        self.size = SIZES["smoke" if args.smoke_size else "full"]
        self.cpus = host["nproc"]
        base = os.path.join(ROOT, ".perfbench_work")
        self.dir = os.path.join(
            base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
        self.artifacts = os.path.join(base, "artifacts")
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in ("tmp", "spark-local", "inputs", "logs"):
            os.makedirs(os.path.join(self.dir, d))
        os.makedirs(self.artifacts, exist_ok=True)
        mem = driver_memory_gb(host["mem_total_mb"])
        self.events_dir = os.path.join(self.dir, "events")
        write_conf(self.conf(False), self.dir, mem, None)
        write_conf(self.conf(True), self.dir, mem, self.events_dir)
        self.n_child = 0

    def conf(self, traced: bool) -> str:
        return os.path.join(self.dir, "conf-trace" if traced else "conf")

    def spawn(self, cmd, traced=False) -> Child:
        env = dict(os.environ)
        env.update(SPARK_CONF_DIR=self.conf(traced),
                   SPARK_LOCAL_DIRS=os.path.join(self.dir, "spark-local"),
                   TMPDIR=os.path.join(self.dir, "tmp"),
                   PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable,
                   PYTHONDONTWRITEBYTECODE="1")
        self.n_child += 1
        log = os.path.join(self.dir, "logs", f"child{self.n_child}.log")
        return Child(cmd, env, self.dir, log)

    def event_log(self) -> list[str]:
        (name,) = os.listdir(self.events_dir)
        with open(os.path.join(self.events_dir, name)) as fh:
            lines = fh.readlines()
        shutil.rmtree(self.events_dir)
        os.makedirs(self.events_dir)
        return lines


def _log_tail(child: Child, n: int = 20) -> str:
    with open(child.log.name, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def _last_json(lines: list[str], key: str):
    for line in reversed(lines):
        if line.startswith("{") and key in line:
            return json.loads(line)[key]
    return None


def run_worker(run: Run, traced: bool, reps: int, seconds: float) -> dict:
    a, s = run.args, run.size
    child = run.spawn(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(seconds), "--cpus", str(run.cpus),
         "--reps", str(reps), "--work", run.dir,
         "--docs", str(s["docs"]), "--fanout", str(s["fanout"])], traced)
    rc, lines = child.wait(CHILD_TIMEOUT_S)
    res = _last_json(lines, "result")
    ready = _last_json(lines, "ready")
    if rc != 0 or res is None or ready is None:
        raise RuntimeError(f"worker exited {rc}:\n{_log_tail(child)}")
    jobs = res["jobs"]
    return {
        "setup_s": (ready - child.t_spawn)
        + statistics.median(res["setup_reps_s"]) + res["warm_up_s"],
        "walls": [j["wall_s"] for j in jobs],
        "roots": [(f"job{i}", j["start"], j["end"])
                  for i, j in enumerate(jobs)],
        "ok": [j["ok"] for j in jobs],
        "errors": [j["error"] for j in jobs if not j["ok"]],
        "turns": res["turns"], "host_probe_s": res["host_probe_s"],
        "peak_rss_mb": child.peak_rss_mb, "peak_procs": child.peak_procs,
        "setup_reps": reps}


def curation_input(run: Run) -> str:
    d = os.path.join(run.dir, "inputs", f"curation-{run.args.seed}")
    corpus.write_documents(d, corpus.base_texts(run.size["docs"]),
                           run.args.seed)
    return d


def curation_probe(run: Run, host_probe: bool) -> tuple[float, float]:
    child = run.spawn([sys.executable, os.path.join(HERE, "worker.py"),
                       "--probe", "--cpus", str(run.cpus)]
                      + ["--host-probe"] * host_probe)
    rc, lines = child.wait(CHILD_TIMEOUT_S)
    ready = _last_json(lines, "ready")
    probe = _last_json(lines, "host_probe_s")
    if rc != 0 or ready is None:
        raise RuntimeError(f"set-up probe exited {rc}:\n{_log_tail(child)}")
    return ready - child.t_spawn, probe


def output_stats(path: str) -> tuple[int, int, int]:
    """(data files, bytes, rows) of a written parquet directory."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, n)
            files += 1
            nbytes += os.path.getsize(p)
            rows += pq.read_metadata(p).num_rows
    return files, nbytes, rows


def run_curation_cli(run: Run, docs: str, traced: bool) -> dict:
    out = os.path.join(run.dir, "out")
    report = os.path.join(run.dir, "report.json")
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(report):
        os.remove(report)
    cmd = [CURATION_SCRIPT, "--warc", "--input", docs, "--output", out,
           "--report", report, "--cpus", str(run.cpus)]
    if traced:
        cmd = [os.path.join(HERE, "callsite.py")] + cmd
    t_start = time.time()
    child = run.spawn([sys.executable] + cmd, traced)
    rc, _ = child.wait(CHILD_TIMEOUT_S)
    wall = child.t_exit - child.t_spawn
    funnel = None
    if rc == 0 and os.path.exists(report):
        with open(report) as fh:
            funnel = json.load(fh)["funnel"]
    files, nbytes, rows = output_stats(out) if rc == 0 else (0, 0, 0)
    want = CURATION_FUNNEL["smoke" if run.args.smoke_size else "full"]
    ok = (rc == 0 and funnel is not None
          and all(funnel.get(k) == v for k, v in want.items())
          and rows == funnel["after_dedup"])
    return {"wall_s": wall, "ok": ok, "rc": rc, "funnel": funnel,
            "rows_written": rows, "files": files, "bytes": nbytes,
            "root": ("cli", t_start, t_start + wall),
            "peak_rss_mb": child.peak_rss_mb, "peak_procs": child.peak_procs}


def measure_curation(run: Run) -> dict:
    docs = curation_input(run)
    probes = [curation_probe(run, i == SETUP_REPS - 1)
              for i in range(SETUP_REPS)]
    runs = []
    t_end = time.monotonic() + run.args.seconds
    while not runs or time.monotonic() + runs[-1]["wall_s"] <= t_end:
        runs.append(run_curation_cli(run, docs, False))
    turns = run.size["docs"]
    walls = [r["wall_s"] for r in runs]
    return {"setup_s": statistics.median(p[0] for p in probes),
            "walls": walls, "ok": [r["ok"] for r in runs],
            "errors": [r for r in runs if not r["ok"]],
            "turns": turns, "host_probe_s": probes[-1][1],
            "peak_rss_mb": max(r["peak_rss_mb"] for r in runs),
            "peak_procs": max(r["peak_procs"] for r in runs),
            "funnel": runs[-1]["funnel"]}


def end_to_end(m: dict) -> dict:
    wall = statistics.median(m["walls"])
    ok = sum(m["ok"])
    return {"turns_per_s": (m["turns"] / wall, "turns/s"),
            "wall_s": (wall, "s"),
            "setup_s": (m["setup_s"], "s"),
            "peak_rss_mb": (m["peak_rss_mb"], "MB"),
            "success_ratio": (ok / len(m["ok"]), "ratio")}


# -------------------------------------------------------------- tracing

_PY_TOTAL = "time to run Python workers"
_PY_METRICS = {"python_total_s": _PY_TOTAL,
               "python_boot_s": "time to start Python workers",
               "python_init_s": "time to initialize Python workers",
               "arrow_sent_bytes": "data sent to Python workers",
               "arrow_received_bytes": "data returned from Python workers"}

#: funnel keys of scripts/run_curation.py --warc -> curation phase
_PHASES = {"warc_records": "ingest", "input_turns": "ingest",
           "after_quality": "quality", "after_lang": "lang",
           "after_dedup": "dedup"}
CURATION_LAYERS = ("ingest", "extract", "quality", "lang", "dedup", "write")


def _is_python(node: dict) -> bool:
    return any(m["name"] == _PY_TOTAL for m in node.get("metrics", []))


def _is_extract(node: dict) -> bool:
    """The extract_text map: the Arrow map that outputs trimmed_text."""
    return ("MapInArrow" in node["nodeName"]
            and "trimmed_text" in node.get("simpleString", ""))


def curation_phases(log: tracing.EventLog, script: str) -> dict[int, str]:
    """Job id -> curation phase, from each job's Python call site.

    A job launched from a line of the script takes the phase of the
    funnel counter on that line (or ``write`` for the writer); a job
    launched inside an operator takes the phase of the next job the
    script itself launches, the action that needed it.
    """
    with open(script) as fh:
        src = fh.read().splitlines()
    here: dict[int, str | None] = {}
    name = os.path.basename(script)
    for jid, job in log.jobs.items():
        m = re.search(re.escape(name) + r":(\d+)$", job["callsite"] or "")
        if not m:
            here[jid] = None
            continue
        line = src[int(m.group(1)) - 1]
        key = re.search(r'funnel\["(\w+)"\]', line)
        here[jid] = (_PHASES.get(key.group(1), "other") if key
                     else "write" if "parquet(" in line
                     or "write_training_shards" in line else "other")
    out, nxt = {}, "other"
    for jid in sorted(here, reverse=True):
        nxt = here[jid] or nxt
        out[jid] = nxt
    return out


def _sum(pairs, metric: str) -> float:
    return sum(vals.get(metric, 0.0) for _, vals in pairs)


def trace_metrics(log: tracing.EventLog, roots, cpus: int,
                  timed: set[int] | None, setup: set[int] | None,
                  setup_units: int, phases: dict[int, str] | None):
    """Per-layer metrics of one traced phase.

    ``roots`` are the measured wall intervals (one per timed job, or
    the CLI process); ``timed`` and ``setup`` pick SQL executions by
    id, None meaning all. Values are per measured unit (one timed job,
    one CLI run) unless they are ratios; the source metrics are per
    set-up. Returns (metrics, per-layer tables, spans).
    """
    units = len(roots)
    by_query = tracing.metrics_by_query(log)

    def nodes(ids):
        return [p for q, ps in by_query.items()
                if ids is None or q in ids for p in ps]

    run_nodes = nodes(timed)
    py = [(n, v) for n, v in run_nodes if _is_python(n)]
    out = {f"extract.{k}": _sum(py, name) / units
           for k, name in _PY_METRICS.items()}
    out["extract.rows_out"] = _sum(py, "number of output rows") / units
    scans = [(n, v) for n, v in nodes(setup)
             if n["nodeName"].startswith("Scan ") or n["nodeName"] == "Range"]
    out["sources.rows_in"] = _sum(scans, "number of output rows") / setup_units
    out["sources.input_bytes"] = _sum(scans, "size of files read") / setup_units
    out["sources.scan_s"] = _sum(scans, "scan time") / setup_units
    out["sources.warc_decode_s"] = _sum(
        [(n, v) for n, v in py if "warc_type" in n.get("simpleString", "")],
        _PY_TOTAL) / units

    jobs = [j for j, job in log.jobs.items()
            if timed is None or job["execution"] in timed]
    rt = tracing.runtime_metrics(log, jobs)
    wall = sum(b - a for _, a, b in roots)
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "shuffle_read_bytes", "fetch_wait_s", "gc_s", "spill_bytes"):
        out[f"spark.{k}"] = rt[k] / units
    out["spark.max_task_skew"] = rt["max_task_skew"]
    out["spark.core_busy_ratio"] = rt["task_run_s"] / (wall * cpus)
    out["spark.peak_storage_mb"] = log.peak_storage_bytes / 2**20

    # runtime view: query self time is driver work (planning, result
    # collection), job and stage self time is scheduling, and task time
    # splits by whether the stage runs a Python worker
    by_stage = tracing.stage_nodes(log)
    python_stages = {s for s, ns in by_stage.items()
                     if any(map(_is_python, ns))}
    spans = tracing.build_spans(
        log, roots, query_layer=lambda ex: "spark.driver",
        job_layer=lambda job: "spark.scheduler",
        stage_layer=lambda sid, st: "spark.scheduler",
        task_layer=lambda sid: ("stage.python" if sid in python_stages
                                else "stage.jvm"))
    table = {k: v / units for k, v in tracing.self_times(spans).items()}
    tables = {"runtime": table}
    out["trace.unaccounted_s"] = table.get("unaccounted", 0.0)
    out["trace.driver_s"] = table.get("spark.driver", 0.0)
    out["trace.scheduler_s"] = table.get("spark.scheduler", 0.0)
    out["trace.python_stage_s"] = table.get("stage.python", 0.0)
    out["trace.jvm_stage_s"] = table.get("stage.jvm", 0.0)

    # curation view: every job takes its phase; stages that ran the
    # extract_text map are the extract phase whichever job ran them
    ptable: dict[str, float] = {}
    if phases is not None:
        extract_stages = {s for s, ns in by_stage.items()
                          if any(map(_is_extract, ns))}
        first_job = {}
        for j, job in sorted(log.jobs.items(), reverse=True):
            first_job[job["execution"]] = j
        pspans = tracing.build_spans(
            log, roots,
            query_layer=lambda ex: (
                f"curation.{phases[first_job[ex['id']]]}"
                if ex["id"] in first_job else None),
            job_layer=lambda job: f"curation.{phases[job['id']]}",
            stage_layer=lambda sid, st: (
                "curation.extract" if sid in extract_stages else None))
        ptable = {k: v / units for k, v in tracing.self_times(pspans).items()}
        tables["curation"] = ptable
    for p in CURATION_LAYERS:
        out[f"curation.{p}_s"] = ptable.get(f"curation.{p}", 0.0)
    out["curation.dedup_jobs"] = (
        sum(1 for p in (phases or {}).values() if p == "dedup") / units)
    return out, tables, spans


def _span_dicts(spans) -> list[dict]:
    return [{"id": s.id, "parent": s.parent, "kind": s.kind,
             "name": s.name, "start": s.start, "end": s.end,
             "layer": s.layer} for s in spans]


def traced(run: Run) -> tuple[dict, dict, int, int]:
    """Untraced phase, traced phase, kernel run; per-layer metrics."""
    import kernel

    a = run.args
    attempted = failed = 0
    if a.workload == "curation":
        docs = curation_input(run)
        plain = run_curation_cli(run, docs, False)
        tr = run_curation_cli(run, docs, True)
        attempted, failed = 2, (not plain["ok"]) + (not tr["ok"])
        log = tracing.parse_event_log(run.event_log())
        phases = curation_phases(log, CURATION_SCRIPT)
        metrics, tables, spans = trace_metrics(
            log, [tr["root"]], run.cpus, None, None, 1, phases)
        metrics["write.files"] = float(tr["files"])
        metrics["write.bytes"] = float(tr["bytes"])
        untraced_wall, traced_wall = plain["wall_s"], tr["wall_s"]
        host_probe = None
    else:
        # two timed windows of half the run each: untraced, then traced
        plain = run_worker(run, False, 1, a.seconds / 2)
        tr = run_worker(run, True, 1, a.seconds / 2)
        attempted = len(plain["ok"]) + len(tr["ok"])
        failed = attempted - sum(plain["ok"]) - sum(tr["ok"])
        log = tracing.parse_event_log(run.event_log())
        timed = {i for i, ex in log.executions.items()
                 if ex["description"] == "perfbench:timed"}
        setup = {i for i, ex in log.executions.items()
                 if ex["description"] == "perfbench:setup"}
        metrics, tables, spans = trace_metrics(
            log, tr["roots"], run.cpus, timed, setup, tr["setup_reps"], None)
        metrics["write.files"] = metrics["write.bytes"] = 0.0
        untraced_wall = statistics.median(plain["walls"])
        traced_wall = statistics.median(tr["walls"])
        docs = os.path.join(run.dir, "inputs", f"extract-{a.seed}")
        host_probe = tr["host_probe_s"]
    sample = corpus.wrapped_sample(docs, KERNEL_SAMPLE)
    k = kernel.run(sample["texts"])
    for name in ("tokenize_s", "document_text_s", "decode_entities_s",
                 "collapse_ws_s", "arrow_build_s", "docs_per_s_core",
                 "events_per_doc"):
        metrics[f"functions.{name}"] = k[name]
    metrics["trace.overhead_s"] = traced_wall - untraced_wall
    artifact = {
        "descriptors": corpus.descriptors(sample["texts"], sample["keys"]),
        "kernel_docs": k["docs"],
        "layer_tables": {name: dict(sorted(t.items()))
                         for name, t in tables.items()},
        "unaccounted_s": metrics["trace.unaccounted_s"],
        "traced_wall_s": traced_wall, "untraced_wall_s": untraced_wall,
        "tracing_overhead_s": metrics["trace.overhead_s"],
        "host_probe_s": host_probe,
    }
    stem = os.path.join(run.artifacts, f"{a.workload}-seed{a.seed}")
    with open(stem + "-spans.json", "w") as fh:
        json.dump(_span_dicts(spans), fh)
    return metrics, artifact, attempted, failed


# ----------------------------------------------------------------- main

def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def one_run(args) -> int:
    host = host_info()
    run = Run(args, host)
    try:
        if args.trace:
            values, artifact, attempted, failed = traced(run)
            units = per_layer_units()
            metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                       for n, u in units.items()}
        else:
            m = (measure_curation(run) if args.workload == "curation"
                 else run_worker(run, False, SETUP_REPS, args.seconds))
            attempted, failed = len(m["ok"]), len(m["ok"]) - sum(m["ok"])
            metrics = {n: {"value": v, "unit": u}
                       for n, (v, u) in end_to_end(m).items()}
            artifact = {"walls_s": m["walls"], "errors": m["errors"],
                        "host_probe_s": m["host_probe_s"],
                        "peak_procs": m["peak_procs"],
                        "funnel": m.get("funnel")}
        artifact.update(host=host, workload=args.workload, seed=args.seed,
                        trace=args.trace, seconds=args.seconds,
                        size=run.size)
        with open(os.path.join(
                run.artifacts,
                f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                "w") as fh:
            json.dump({"artifact": artifact, "metrics": metrics}, fh,
                      indent=1)
        print(json.dumps({"artifact": artifact}, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)


def smoke() -> int:
    """Every workload once, small, in both modes; the printed metric
    names and units must be exactly those of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--smoke-size"]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600)
            res = json.loads(p.stdout.splitlines()[-1]) if p.stdout else {}
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: v.get("unit") for n, v in
                   res.get("metrics", {}).items()}
            if p.returncode or got != want or not res.get("correct"):
                problems.append({"workload": w["name"], "trace": trace,
                                 "rc": p.returncode,
                                 "missing": sorted(set(want) - set(got)),
                                 "extra": sorted(set(got) - set(want)),
                                 "correct": res.get("correct"),
                                 "stderr": p.stderr[-2000:]})
    print(json.dumps({"smoke_ok": not problems, "problems": problems},
                     indent=1))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at sf0.001 size and "
                         "check the printed metric names")
    ap.add_argument("--smoke-size", action="store_true",
                    help="use the sf0.001-sized inputs for this run")
    args = ap.parse_args()
    missing = [p for p in (os.path.join(ROOT, "html_parser_spark",
                                        "__init__.py"), CURATION_SCRIPT)
               if not os.path.exists(p)]
    if missing:
        print(f"perfbench: program sources not found: {missing}",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return one_run(args)


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the frizzle bus: live latency and drain throughput.

Usage (from the repository root)::

    python3 busbench/run.py --workload bus|curate|embed --seed N \\
        --seconds S --trace 0|1

One run, in fresh processes:

1. the generator (``gen.py``) synthesizes the workload's slices from the
   seed and stages the drain backlog; nothing is timed yet;
2. set-up: a fresh bus process (``worker.py``) starts a session and the
   bus over a landing directory holding the warm-up slice; set-up time
   runs from process spawn to the warm-up commit;
3. ``embed`` only: an untimed backlog grows the index first;
   ``bus`` and ``curate``: the generator lands slices at the live rate
   for a few untimed seconds while the JIT warms up;
   live phase (``S`` seconds): the generator lands one slice per
   interval at a fixed rate (open loop) and each record's latency is
   its due time to the end of the micro-batch that committed it;
4. drain phase: the generator lands a fixed backlog at once, as after
   an upstream outage; throughput is backlog rows over landing-to-last-
   commit time;
5. traced ``embed`` only: a retrain compaction of the vector index, then
   one batch that meets the cold cache and one above the local cap;
6. the outputs are checked against the generator's inputs, and every
   process is stopped and reaped.

The last stdout line is one JSON object: ``correct``, ``attempted``
(records landed), ``failed`` (records that failed a check) and
``metrics`` -- the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.  Each run's
full record goes to ``busbench/.out/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import inputs  # noqa: E402
from tracing import self_times  # noqa: E402

RUN_DEADLINE_S = 170
# the traced embed maintenance phase (retrain compaction + an over-cap
# batch) took 40-90 s on a 4-core host, more when contended; it is
# skipped, and says so, when less than this is left
MAINT_NEEDS_S = 110
TAIL_BEYOND = 10  # samples the tail percentile leaves beyond it


class Proc:
    """A child in its own session (so its JVM can be killed with it),
    speaking JSON lines: commands to stdin, events from a reader thread."""

    def __init__(self, name, argv, env, cwd, log, ctl_fd: bool) -> None:
        self.name, self.log = name, log
        self.t_spawn = time.time()
        pass_fds = ()
        if ctl_fd:
            r, w = os.pipe()
            env = {**env, "BUSBENCH_CTL_FD": str(w)}
            pass_fds = (w,)
        with open(log, "ab") as lf:
            self.p = subprocess.Popen(
                argv, stdin=subprocess.PIPE,
                stdout=lf if ctl_fd else subprocess.PIPE, stderr=lf,
                env=env, cwd=cwd, start_new_session=True, pass_fds=pass_fds,
                text=True,
            )
        if ctl_fd:
            os.close(w)
            out = os.fdopen(r)
        else:
            out = self.p.stdout
        self.q: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, args=(out,), daemon=True).start()

    def _read(self, out) -> None:
        for line in out:
            if line.startswith("{"):
                self.q.put(json.loads(line))
        self.q.put(None)

    def send(self, cmd: dict) -> None:
        self.p.stdin.write(json.dumps(cmd) + "\n")
        self.p.stdin.flush()

    def expect(self, ev: str, timeout: float) -> dict:
        try:
            msg = self.q.get(timeout=max(0.1, timeout))
        except queue.Empty:
            raise TimeoutError(f"{self.name}: no {ev!r} within {timeout:.0f}s") from None
        if msg is None or msg.get("ev") != ev:
            raise RuntimeError(f"{self.name} exited before {ev!r}:\n{self.tail()}")
        return msg

    def tail(self, n: int = 30) -> str:
        with open(self.log, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def stop(self) -> None:
        """Kill whatever is left of the process group and wait until all
        of it has exited."""
        try:
            os.killpg(self.p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.p.wait()
        for _ in range(200):
            if not host.group_pids(self.p.pid):
                return
            time.sleep(0.05)


class Run:
    def __init__(self, root, workload, seed, seconds, trace) -> None:
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.t_start = time.time()
        self.work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-",
                                     dir=os.path.join(HERE, ".work"))
        self.procs: list[Proc] = []

    def left(self) -> float:
        return self.t_start + RUN_DEADLINE_S - time.time()

    def env(self, **extra) -> dict:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(
                [self.root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            FRIZZLE_SCRATCH_CKPT_BASE=tmp,
            # keep the JVM's temp files (and no perf-data file) in the run dir
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # a 2 GB heap cap with a fixed 256 MB young generation: G1's
            # adaptive eden otherwise sets the JVM's resident memory
            # (0.9-2.0 GB on identical curate runs), not the bus
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_SUBMIT_OPTS="-Xmn256m",
            PYTHONUNBUFFERED="1",
        )
        env.update(extra)
        return env

    def spawn(self, name, script, args, ctl_fd, **env) -> Proc:
        p = Proc(name, [sys.executable, os.path.join(HERE, script), *args],
                 self.env(**env), self.work,
                 os.path.join(self.work, f"{name}.log"), ctl_fd)
        self.procs.append(p)
        return p

    def generator(self, name: str, trace: int) -> tuple[Proc, str]:
        """Spawns the generator; it stages its files while the caller
        goes on (call ``staged`` before landing anything)."""
        gdir = os.path.join(self.work, name)
        os.makedirs(gdir)
        g = self.spawn(name, "gen.py", [
            "--workload", self.workload, "--seed", str(self.seed),
            "--live-seconds", str(self.seconds), "--work", gdir,
            "--trace", str(trace)], False)
        return g, gdir

    def staged(self, gen: Proc) -> None:
        gen.expect("staged", min(60, self.left()))

    def bus(self, name: str, gdir: str, trace: int, **env) -> tuple[Proc, str, dict]:
        d = os.path.join(self.work, name)
        landing = os.path.join(d, "landing")
        os.makedirs(landing)
        shutil.copy(os.path.join(gdir, "stage", "warm.parquet"),
                    os.path.join(landing, ".warm-00000.parquet"))
        os.replace(os.path.join(landing, ".warm-00000.parquet"),
                   os.path.join(landing, "warm-00000.parquet"))
        w = self.spawn(name, "worker.py", [
            "--workload", self.workload, "--dir", d, "--trace", str(trace)],
            True, **env)
        ev = w.expect("warm", min(120, self.left()))
        ev["setup_s"] = ev["warm_end"] - w.t_spawn
        return w, d, ev

    def await_rows(self, w: Proc, rows: int) -> None:
        t = min(90, self.left())
        w.send({"cmd": "await", "rows": rows, "timeout": t})
        w.expect("caught_up", t + 5)

    def finish(self, w: Proc, d: str) -> dict:
        w.send({"cmd": "finish"})
        w.expect("done", min(60, self.left()))
        w.stop()
        with open(os.path.join(d, "record.json")) as fh:
            return json.load(fh)

    def land(self, gen: Proc, d: str, phase: str, index=None) -> None:
        gen.send({"cmd": "land", "phase": phase, "index": index,
                  "landing": os.path.join(d, "landing")})
        gen.expect("landed", min(30, self.left()))

    def execute(self) -> dict:
        cpu0 = host.cpu_snapshot()
        marks = {"start": time.time()}
        gen, gdir = self.generator("gen", self.trace)
        # the checks' copy of the inputs, built while the generator stages
        inp = inputs.make(self.workload, self.seed, self.seconds, bool(self.trace))
        self.staged(gen)
        marks["staged"] = time.time()
        w, d, setup = self.bus("bus", gdir, self.trace)
        marks["setup"] = time.time()
        sampler = host.RssSampler(w.p.pid)
        rows = inp.rows("warm")
        if inp.phase("pre"):
            self.land(gen, d, "pre")
            rows += inp.rows("pre")
            self.await_rows(w, rows)
            marks["pre"] = time.time()
        rows += inp.rows("settle") + inp.rows("live")
        settle_s = inp.shape.settle_files * inp.shape.interval_s
        gen.send({"cmd": "live", "landing": os.path.join(d, "landing"),
                  "t0": time.time() + 0.2})
        gen.expect("live_done", min(settle_s + self.seconds + 30, self.left()))
        self.await_rows(w, rows)
        marks["live"] = time.time()
        self.land(gen, d, "drain")
        rows += inp.rows("drain")
        self.await_rows(w, rows)
        marks["drain"] = time.time()
        peak = (sampler.peak_tree, sampler.peak_leader, sampler.peak_rest)
        compactions = []
        if inp.phase("maint") and self.left() < MAINT_NEEDS_S:
            print(f"busbench: maintenance phase skipped, {self.left():.0f} s left "
                  f"of the run's {RUN_DEADLINE_S} s", file=sys.stderr)
        elif inp.phase("maint"):
            w.send({"cmd": "compact"})
            compactions.append(w.expect("compacted", min(60, self.left()))["ms"])
            for i, s in enumerate(inp.phase("maint")):
                self.land(gen, d, "maint", [i])
                rows += s.table.num_rows
                self.await_rows(w, rows)
            marks["maint"] = time.time()
        record = self.finish(w, d)
        sampler.stop()
        marks["finish"] = time.time()
        gen.send({"cmd": "exit"})
        gen.p.wait(timeout=max(1, self.left()))
        with open(os.path.join(gdir, "ledger.json")) as fh:
            ledger = json.load(fh)
        cpu1 = host.cpu_snapshot()
        out = {
            "inputs": inp, "record": record, "ledger": ledger, "dir": d,
            "setup": setup, "host": host.cpu_between(cpu0, cpu1),
            # peaks from the warm-up commit to the end of the drain (the
            # maintenance phase of a traced run is left out, so traced and
            # untraced compare)
            "peak_tree": peak[0], "peak_python": peak[1], "peak_jvm": peak[2],
            "compactions": compactions,
            "phase_walls_s": {k: marks[k] - marks[j] for j, k in zip(marks, list(marks)[1:])},
        }
        if self.trace and self.workload == "bus":
            out["baseline_1core"] = self.single_core_drain(inp)
        return out

    def single_core_drain(self, inp) -> float:
        """The same drain on a one-core bus (recorded, not gated)."""
        gen, gdir = self.generator("gen1", 0)
        self.staged(gen)
        w, d, _ = self.bus("bus1core", gdir, 0, SPARK_GRAFT_CPUS="1")
        self.land(gen, d, "drain")
        self.await_rows(w, inp.rows("warm") + inp.rows("drain"))
        record = self.finish(w, d)
        gen.send({"cmd": "exit"})
        gen.p.wait(timeout=max(1, self.left()))
        with open(os.path.join(gdir, "ledger.json")) as fh:
            ledger = json.load(fh)
        return drain_rate(ledger, record, file_batches(d))

    def close(self) -> None:
        for p in self.procs:
            p.stop()
        shutil.rmtree(self.work, ignore_errors=True)


# ------------------------------------------------------------ metrics
def file_batches(d: str) -> dict[str, int]:
    """Landed file name -> the micro-batch that read it, from the file
    source's own log in the checkpoint."""
    src = os.path.join(d, "ckpt", "sources", "0")
    out: dict[str, int] = {}
    for f in os.listdir(src):
        if f.startswith("."):
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def weighted_median(pairs: list[tuple[float, int]]) -> float:
    pairs = sorted(pairs)
    half, acc = sum(w for _, w in pairs) / 2.0, 0
    for v, w in pairs:
        acc += w
        if acc >= half:
            return v
    return pairs[-1][0]


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that leaves
    TAIL_BEYOND samples beyond it; the maximum when there are too few."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def p90(samples: list[float]) -> float:
    """Nearest-rank 90th percentile; the per-layer tails use it, as a
    phase holds too few batches for the TAIL_BEYOND rule to stay above
    the median."""
    s = sorted(samples)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)] if s else 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def drain_rate(ledger, record, fb) -> float:
    end = {b["batch"]: b["end"] for b in record["batches"]}
    drain = [f for f in ledger if f["phase"] == "drain"]
    t_land = min(f["due"] for f in drain)
    last = max(end[fb[f["name"]]] for f in drain)
    return sum(f["rows"] for f in drain) / (last - t_land)


def batch_phases(ledger, fb) -> dict[int, str]:
    """Micro-batch -> the phase of the files it read (live wins over
    drain when a batch straddles the boundary)."""
    out: dict[int, str] = {}
    for f in ledger:
        b = fb[f["name"]]
        if out.get(b) != "live":
            out[b] = f["phase"]
    return out


def measure(run: Run, res: dict) -> tuple[dict, dict]:
    """(end-to-end metrics, per-layer metrics and evidence)."""
    rec, ledger = res["record"], res["ledger"]
    fb = file_batches(res["dir"])
    phase = batch_phases(ledger, fb)
    end = {b["batch"]: b["end"] for b in rec["batches"]}
    live_files = [f for f in ledger if f["phase"] == "live"]
    # a live file is one sample: its records share a due time and a commit
    lat = [((end[fb[f["name"]]] - f["due"]) * 1000, f["rows"]) for f in live_files]
    tail_ms, tail_pct = tail([ms for ms, _ in lat])
    beyond = sorted(range(len(lat)), key=lambda i: -lat[i][0])[:TAIL_BEYOND]
    live_batches = {fb[f["name"]] for f in live_files}
    late = sorted((f["landed"] - f["due"]) * 1000 for f in live_files)
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "rows_per_s": drain_rate(ledger, rec, fb),
        "latency_p50_ms": weighted_median(lat),
        "latency_tail_ms": tail_ms,
        "peak_rss_mb": res["peak_tree"] / 2**20,
    }
    ev = {
        "tail_percentile": tail_pct, "tail_files": len(lat),
        "tail_batches_beyond": len({fb[live_files[i]["name"]] for i in beyond}),
        "live_batches": len(live_batches),
        "live_records": sum(w for _, w in lat),
        "generator_late_p99_ms": late[min(len(late) - 1, int(0.99 * len(late)))],
        "generator_late_max_ms": late[-1],
        "peak_python_mb": res["peak_python"] / 2**20,
        "peak_jvm_mb": res["peak_jvm"] / 2**20,
        "host": res["host"],
        "phase_walls_s": res["phase_walls_s"],
        "live_trigger_ms": [b["ms"].get("triggerExecution", 0) for b in rec["batches"]
                            if b["batch"] in live_batches],
    }

    # ---- per layer
    data = [b for b in rec["batches"] if phase.get(b["batch"]) in ("live", "drain")]
    live = [b for b in data if phase[b["batch"]] == "live"]

    def p50(key, rows=live):
        return median(b["ms"].get(key, 0) for b in rows)

    landed = sorted((f["landed"], f["rows"]) for f in ledger if "landed" in f)
    lag = 0
    for b in data:
        got = sum(r for t, r in landed if t <= b["start"])
        done = sum(x["rows"] for x in rec["batches"] if x["end"] <= b["start"])
        lag = max(lag, got - done)
    trig = [b["ms"].get("triggerExecution", 0) for b in live]
    files_in = {}
    for name, b in fb.items():
        if phase.get(b) in ("live", "drain"):
            files_in[b] = files_in.get(b, 0) + 1
    spans = rec.get("spans", [])

    def span_p50(name):
        by_batch: dict = {}
        for s in spans:
            if s["name"] == name and phase.get(s["batch"]) == "live":
                by_batch[s["batch"]] = by_batch.get(s["batch"], 0) + (s["end"] - s["start"]) * 1000
        return median(by_batch.values())

    setup = res["setup"]
    stats = rec.get("stats", {})
    layer = {
        "session.start_s": setup["session_ready"] - setup["session_start"],
        "session.first_batch_s": setup["warm_end"] - setup["session_ready"],
        "sources.latest_offset_ms": p50("latestOffset"),
        "sources.get_batch_ms": p50("getBatch"),
        "sources.lag_rows_max": lag,
        "sources.files_per_batch": median(files_in.values()) if files_in else 0,
        "pipeline.batches": len(data),
        "pipeline.trigger_ms_p50": median(trig),
        "pipeline.trigger_ms_tail": p90(trig),
        "pipeline.add_batch_ms": p50("addBatch"),
        "pipeline.planning_ms": p50("queryPlanning"),
        "pipeline.commit_ms": median(b["ms"].get("walCommit", 0) + b["ms"].get("commitOffsets", 0) for b in live),
        "pipeline.sink_write_ms": span_p50("pipeline.sink_write"),
        "pipeline.dlq_write_ms": span_p50("pipeline.dlq_write"),
        "pipeline.jobs_per_batch": rec["jobs_total"] / max(1, len(rec["batches"])),
        "pipeline.rcv": stats.get("ctr.rcv", 0),
        "pipeline.ack": stats.get("ctr.ack", 0),
        "pipeline.fail": stats.get("ctr.fail", 0),
        "pipeline.failsend": stats.get("ctr.failsend", 0),
    }
    for key, workload in (("curation", "curate"), ("embedding", "embed")):
        layer.update(body_layer(key, rec if run.workload == workload else {}, phase, res))
    layer.update({
        "dedup.signatures_ms": span_p50("dedup.signatures"),
        "dedup.probe_ms": span_p50("dedup.probe"),
        "dedup.index_append_ms": span_p50("dedup.index_append"),
        "embedding.py_rss_mb": res["peak_python"] / 2**20,
        "baseline.bus_rows_per_s_1core": res.get("baseline_1core", 0.0),
    })
    ev["self_times_ms"] = self_times(spans + batch_spans(run.workload, rec))
    if run.workload == "embed" and rec.get("bodies"):
        # where the index first exceeded the young-tier cap
        cap = _emb_caps()[0]
        over = [b for b in rec["bodies"] if b.get("index_bytes", 0) > cap]
        ev["young_cap_crossed"] = over and {
            "batch": over[0]["batch"], "phase": phase.get(over[0]["batch"])}
        ev["bodies"] = [
            {k: b.get(k) for k in ("batch", "n_in", "n_kept", "index_bytes", "body_ms")}
            | {"phase": phase.get(b["batch"])} for b in rec["bodies"]]
    return e2e, {"layer": layer, "evidence": ev}


def batch_spans(workload: str, rec: dict, counts: dict | None = None) -> list[dict]:
    """The micro-batch spans, from the engine's progress report, with its
    ``durationMs`` split and the batch's counts: rows in, and rows out and
    to the DLQ where known (the bus body's return, or the sinks'
    ``_batch`` partitions), Spark jobs where traced."""
    bodies = {b["batch"]: b for b in rec.get("bodies", [])}
    out = []
    for b in rec.get("batches", []):
        attrs = {"duration_ms": b["ms"], "rows_in": b["rows"]}
        body = bodies.get(b["batch"])
        if body:
            attrs.update(rows_out=body["n_kept"], rows_dlq=body["n_in"] - body["n_kept"],
                         jobs=body.get("jobs"))
        attrs.update((counts or {}).get(b["batch"], {}))
        out.append({"trace": f"{workload}-{b['batch']}", "batch": b["batch"],
                    "id": f"b{b['batch']}", "parent": None, "name": "micro_batch",
                    "start": b["start"], "end": b["end"], "attrs": attrs})
    return out


def body_layer(key: str, rec: dict, phase: dict, res: dict) -> dict:
    """Per-layer numbers of a curation bus body; zeros on a workload
    that does not run it."""
    bodies = rec.get("bodies", [])
    live = [b for b in bodies if phase.get(b["batch"]) == "live"]
    ms = [b["body_ms"] for b in live]
    fifth = max(1, len(ms) // 5)
    out = {
        f"{key}.batch_ms_p50": median(ms),
        f"{key}.batch_ms_tail": p90(ms),
        f"{key}.jobs_per_batch": median(b.get("jobs", 0) for b in bodies),
        f"{key}.late_early_ratio": (median(ms[-fifth:]) / median(ms[:fifth])) if ms else 0.0,
        f"{key}.index_mb": rec.get("index_bytes", 0) / 2**20,
    }
    if key == "curation":
        compacts = [b["compact_ms"] for b in bodies if "compact_ms" in b]
        n_in = sum(b["n_in"] for b in bodies)
        out.update({
            "curation.kept_frac": sum(b["n_kept"] for b in bodies) / n_in if n_in else 0.0,
            "curation.compact_ms": median(compacts),
            "curation.index_files": rec.get("index_files", 0),
        })
    else:
        cap_bytes, cap_vecs = _emb_caps() if bodies else (0, 0)
        out.update({
            "embedding.cached_tier_batches": sum(
                1 for b in bodies
                if b.get("index_bytes", 0) > cap_bytes and b["n_in"] <= cap_vecs),
            "embedding.distributed_batches": sum(1 for b in bodies if b["n_in"] > cap_vecs),
            "ann_index.compact_ms": median(res.get("compactions", [])) if bodies else 0.0,
            "ann_index.post_compact_batch_ms": median(
                b["body_ms"] for b in bodies if b.get("after_compact")),
        })
    return out


def _emb_caps() -> tuple[int, int]:
    from frizzle_spark.streaming.embedding_curation import (
        EMB_LOCAL_MAX_VECS, EMB_PROBE_LOCAL_MAX_BYTES,
    )

    return EMB_PROBE_LOCAL_MAX_BYTES, EMB_LOCAL_MAX_VECS


# -------------------------------------------------------------- checks
def check(run: Run, res: dict, fb: dict) -> tuple[int, int, float, list[str]]:
    """(attempted, failed, dup_recall, problems), over the slices the
    generator landed."""
    landed = {f["name"] for f in res["ledger"]}
    slices = [s for s in res["inputs"].slices if s.name in landed]
    if run.workload == "bus":
        return check_bus(slices, res, fb)
    return check_curation(run.workload, slices, res["inputs"].planted, res)


def check_bus(slices, res, fb):
    import pandas as pd
    import pyarrow.dataset as ds

    d = res["dir"]
    rows = []
    for s in slices:
        t = s.table.select(["id", "data", "dest", "prio"]).to_pandas()
        t["file"] = s.name
        rows.append(t)
    want = pd.concat(rows, ignore_index=True)
    want["fail"] = want["prio"] == inputs.FAIL_PRIO
    want["batch"] = want["file"].map(fb)
    sep = inputs.SEP
    ends = want["data"].map(lambda b: b.endswith(sep))
    want["sink_data"] = [b if e else b + sep for b, e in zip(want["data"], ends)]
    want["dlq_data"] = [b[: -len(sep)] if e else b for b, e in zip(want["data"], ends)]
    want["sink_dest"] = want["dest"].fillna("main")

    def read(path, where):
        if not os.path.isdir(path):
            return pd.DataFrame(columns=["id", "data", "dest", "_batch", "where"])
        # the sink's _batch= directories would hide under the default
        # ignore prefixes, so list the data files explicitly
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        t = ds.dataset(files, format="parquet", partitioning="hive",
                       partition_base_dir=path).to_table(
            columns=["id", "data", "dest", "_batch"]).to_pandas()
        t["where"] = where
        return t

    got = pd.concat([read(f"{d}/sink", "sink"), read(f"{d}/dlq", "dlq")], ignore_index=True)
    counts = got["id"].value_counts()
    m = want.merge(got.drop_duplicates("id"), on="id", how="left", suffixes=("", "_got"))
    m["n"] = m["id"].map(counts).fillna(0).astype(int)
    exp_where = m["fail"].map({True: "dlq", False: "sink"})
    exp_data = [dl if f else sk for f, sk, dl in zip(m["fail"], m["sink_data"], m["dlq_data"])]
    exp_dest = m["fail"].map({True: "dlq", False: None}).fillna(m["sink_dest"])
    bad = (
        (m["n"] != 1)
        | (m["where"] != exp_where)
        | (m["data_got"].map(lambda v: v if isinstance(v, bytes) else None) != pd.Series(exp_data))
        | (m["dest_got"].astype(str) != exp_dest.astype(str))
        | (m["_batch"].astype("float") != m["batch"].astype("float"))
    )
    problems = []
    failed = int(bad.sum())
    if failed:
        problems.append(f"{failed} records missing, duplicated, misrouted, altered "
                        f"or in the wrong batch; e.g. {m[bad].head(3)[['id', 'n', 'where']].to_dict('records')}")
    extra = len(set(got["id"]) - set(want["id"]))
    if extra:
        failed += extra
        problems.append(f"{extra} ids in the sinks that were never landed")
    n_fail = int(want["fail"].sum())
    stats = res["record"]["stats"]
    expect = {"ctr.rcv": len(want), "ctr.ack": len(want) - n_fail,
              "ctr.fail": n_fail, "ctr.failsend": n_fail}
    for k, v in expect.items():
        if stats.get(k, 0) != v:
            failed += abs(stats.get(k, 0) - v)
            problems.append(f"{k} = {stats.get(k, 0)}, expected {v}")
    in_dlq = int(((m["where"] == "dlq") & m["fail"]).sum())
    per_batch = got.groupby(["_batch", "where"]).size()
    res["batch_counts"] = {}
    for (b, where), n in per_batch.items():
        res["batch_counts"].setdefault(int(b), {})[
            "rows_out" if where == "sink" else "rows_dlq"] = int(n)
    return len(want), failed, in_dlq / max(1, n_fail), problems


def check_curation(workload, slices, planted, res):
    import pyarrow.parquet as pq

    key = "doc_id" if workload == "curate" else "vec_id"
    a = pq.read_table(os.path.join(res["dir"], "assignment.parquet")).to_pandas()
    want = [i for s in slices for i in s.table.column(key).to_pylist()]
    landed = set(want)
    planted = {i: o for i, o in planted.items() if i in landed}
    counts = a[key].value_counts()
    problems, failed = [], 0
    not_once = sum(1 for i in want if counts.get(i, 0) != 1)
    extra = len(set(a[key]) - landed)
    if not_once or extra:
        failed += not_once + extra
        problems.append(f"{not_once} ids not exactly once, {extra} never landed")
    dropped = a[(a["dest"] == "dlq")]
    wrongly = dropped[~dropped[key].isin(planted.keys())]
    if len(wrongly):
        failed += len(wrongly)
        problems.append(f"{len(wrongly)} unplanted records dropped, e.g. "
                        f"{wrongly.head(3).to_dict('records')}")
    caught = dropped[dropped["reason"].isin(["dup_index", "dup_batch"])
                     & dropped[key].isin(planted.keys())]
    return len(want), failed, len(caught) / max(1, len(planted)), problems


# -------------------------------------------------------------- output
def declared(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def emit(metrics: dict, specs: list[dict]) -> dict:
    names = {s["name"] for s in specs}
    if names != set(metrics):
        raise RuntimeError(f"computed metrics differ from BENCHMARK.json: "
                           f"{sorted(names ^ set(metrics))}")
    out = {}
    for s in specs:
        v = float(metrics[s["name"]])
        print(f"  {s['name']:34s} {v:14.4f} {s['unit']}")
        out[s["name"]] = {"value": v, "unit": s["unit"]}
    return out


def code_version(root: str) -> str:
    """Digest of the program's and the benchmark's Python sources, so a
    record names the code it measured (a checkout need not be a git
    repository)."""
    h = hashlib.sha256()
    for top in ("frizzle_spark", os.path.relpath(HERE, root)):
        for path in sorted(glob.glob(os.path.join(root, top, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def overhead(workload: str, seconds: float, version: str, e2e: dict) -> tuple[dict, int]:
    """(traced minus untraced end-to-end medians, number of untraced
    runs), against the untraced runs of this workload recorded in this
    checkout with the same live length and the same code."""
    base: dict[str, list] = {}
    n = 0
    for path in glob.glob(os.path.join(HERE, ".out", f"{workload}-*-t0.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("version") != version or rec["seconds"] != seconds:
            continue
        n += 1
        for k, v in rec["end_to_end"].items():
            base.setdefault(k, []).append(v)
    return {k: e2e[k] - median(v) for k, v in base.items() if k in e2e}, n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the live phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "frizzle_spark", "streaming", "pipeline.py")):
        print("busbench: run from the repository root (frizzle_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    spec = declared(root)
    # before the run: the sources may change while it runs
    version = code_version(root)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    run = Run(root, a.workload, a.seed, a.seconds, a.trace)
    try:
        res = run.execute()
        e2e, layer = measure(run, res)
        attempted, failed, recall, problems = check(run, res, file_batches(res["dir"]))
    finally:
        run.close()
    e2e["dup_recall"] = recall
    ev = layer["evidence"]
    print(f"busbench {a.workload} seed={a.seed} live={a.seconds:g}s trace={a.trace}")
    print(f"  latency tail: p{ev['tail_percentile']:.1f} of {ev['tail_files']} live files; "
          f"the {TAIL_BEYOND} beyond it were committed by {ev['tail_batches_beyond']} of "
          f"{ev['live_batches']} live micro-batches; {ev['live_records']} live records")
    print(f"  generator lateness: p99 {ev['generator_late_p99_ms']:.1f} ms, "
          f"max {ev['generator_late_max_ms']:.1f} ms")
    h = ev["host"]
    print(f"  host: steal {h['steal_pct']:.2f}%  iowait {h['iowait_pct']:.2f}%  "
          f"load1 {h['load1_start']:.2f} -> {h['load1_end']:.2f}")
    print(f"  peak memory (RSS): Python {ev['peak_python_mb']:.0f} MB, "
          f"JVM {ev['peak_jvm_mb']:.0f} MB")
    for p in problems:
        print(f"  CHECK FAILED: {p}")
    diff = None
    if a.trace:
        metrics = emit(layer["layer"], spec["per_layer"])
        diff, n_base = overhead(a.workload, a.seconds, version, e2e)
        print(f"  tracing overhead (traced - median of {n_base} untraced runs of "
              f"code {version}, live {a.seconds:g} s): " + (", ".join(
                  f"{k} {v:+.3f}" for k, v in diff.items()) or "none recorded"))
        for name, t in sorted(ev["self_times_ms"].items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"  self {name:28s} {t['self_ms']:10.1f} ms over {t['count']} spans")
    else:
        metrics = emit(e2e, spec["end_to_end"])
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    rec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "version": version,
           "trace": a.trace, "end_to_end": e2e, "per_layer": layer["layer"],
           "evidence": ev, "problems": problems, "tracing_overhead": diff}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(HERE, ".out", f"{a.workload}-{a.seed}-{stamp}-t{a.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    if a.trace:
        with open(os.path.join(HERE, ".out", f"spans-{a.workload}-{a.seed}-{stamp}.json"), "w") as fh:
            json.dump(res["record"]["spans"] + batch_spans(
                a.workload, res["record"], res.get("batch_counts")), fh)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

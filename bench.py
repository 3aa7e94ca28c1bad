"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The final line's "queries" map carries the slowest entries that fit the
driver's measured 2,000-char parse window (see the compact-line comment
in main()); the FULL 200-query map rides line 1 of stdout and the
committed BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _env_snapshot() -> dict:
    """Machine-state evidence (round 12, VERDICT r11 #1): the r11
    driver-run record sat 16-23% above the same-code builder runs and
    nothing IN the record could attribute the delta (uniform per-query
    inflation + halved stream rps said "contended machine", but that
    was inference from other artifacts).  Each record now carries
    loadavg + available memory at start/end plus per-query loadavg, so
    the next driver-vs-builder drift is attributable from the record
    alone: an idle machine shows load ≈ 0 at start and MemAvailable in
    the tens of GB."""
    snap: dict = {}
    try:
        snap["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    # Hypervisor steal evidence (round 12): the r12 drift hunt found
    # 11.8% CPU steal under full load on an "idle-looking" machine —
    # loadavg counts only OUR runnable tasks, so host contention is
    # invisible to every other field here.  Cumulative (ticks) at
    # start/end lets any two records be compared as steal %% of the
    # run; per-query deltas (query_steal_pct) localize the bursts that
    # made the same code read 158 s on a quiet host and 221 s on a
    # contended one with no plan change at all.
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()[1:]
        snap["cpu_ticks_total"] = sum(int(v) for v in parts)
        snap["cpu_ticks_steal"] = int(parts[7]) if len(parts) > 7 else 0
        # iowait (r13): the 24-28 s qz13_curation_ingest window in the
        # run-C record had load1 1.26, 0 ms GC, 3% steal — every CPU
        # field said idle while the wall burned: the engine was queued
        # on the HOST's disk (checkpoint fsyncs).  iowait is the field
        # that sees it.
        snap["cpu_ticks_iowait"] = int(parts[4]) if len(parts) > 4 else 0
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(("MemAvailable", "MemTotal")):
                    k, v = line.split(":")
                    snap[k.strip()] = int(v.strip().split()[0]) // 1024  # MiB
    except OSError:
        pass
    snap["pid"] = os.getpid()
    return snap


def _jvm_probe(spark) -> dict:
    """JIT/code-cache evidence (round 13, VERDICT r12 #2): the late-
    session slow windows show ~0 steal and modest GC, which rules out
    the two instrumented causes — the remaining JVM-session suspect is
    the JIT.  A 200-query codegen-heavy session compiles tens of
    thousands of nmethods; when the 240 MB default ReservedCodeCacheSize
    fills, the sweeper flushes cold methods and whichever query runs
    next pays a recompilation storm (visible as jit_ms bursts with flat
    gc/steal).  code_cache_used_kb + jit_total_ms at start/end plus
    per-query jit deltas localize it from the record alone."""
    out: dict = {}
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        comp = mf.getCompilationMXBean()
        out["jit_total_ms"] = comp.getTotalCompilationTime()
        pools = mf.getMemoryPoolMXBeans()
        used = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if "CodeHeap" in p.getName() or "Code Cache" in p.getName():
                used += p.getUsage().getUsed()
        out["code_cache_used_kb"] = used // 1024
    except Exception:
        pass
    return out


# Entries whose sf0.1 wall is FIXED OVERHEAD (Structured Streaming
# micro-batch machinery, state-store open/commit, stream planning — or a
# multi-micro-batch bus replay), not data volume: their round-over-round
# deltas say nothing about data scaling (round 12, VERDICT r11 #8).  The
# decade records (SCALE_SF1*.json, BENCH_LOCAL_sf*.json) carry their
# data-scaling story; comparisons of THIS record should read these names
# with that in mind.  Derived from the registry modules: everything that
# runs through _run_isolated_stream, run_bus_pipeline, or a
# stream_*_ingest replay.
OVERHEAD_BOUND = sorted(
    [
        "q13_stream",
        "q16_stream_static",
        "qz16_interval_join",
        "qz13_stream_dedup",
        "qz13_stream_counts",
        "qz13_stream_funnel",
        "qz13_stream_cusum",
        "qz13_stream_attribution",
        "qz13_docs_pipeline",
        "qz13_curation_ingest",
        "qz13_embedding_ingest",
    ]
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the 8g session default is sized for the driver's sf0.01/sf0.1
    # contract runs; a full-registry decade-3 bench (10M events, 60M
    # lineitem, 200k embeddings in ONE local JVM) needs real heap —
    # measured at sf10: qz26's basket materialization OOM'd 8g and the
    # Arrow allocator (whose direct-memory cap follows the heap) died
    # inside mapInPandas.  Env still overrides.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    # __spark_entry__ imports every registry module — ONE place to keep
    # in sync (a hand-copied module list here silently dropped the
    # clustering module from the round-7 bench)
    import __spark_entry__  # noqa: F401
    from frizzle_spark.plans.registry import REGISTRY
    from frizzle_spark.session import get_spark

    env_start = _env_snapshot()
    spark = get_spark("frizzle_spark-bench")
    # warm the JVM + parquet footers + the Python worker pool once so
    # per-query numbers measure the plan, not first-touch JIT / daemon
    # startup (which otherwise charges whichever query runs first)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    env_start.update(_jvm_probe(spark))

    # Index prewarm (round 9): four registry families serve per-process
    # scratch indexes (the exact/minhash cluster maps, the MinHash doc
    # index, the kNN edge set) built once per (process, sf_dir) and
    # reused by every later consumer — the amortized operating mode.
    # Without this phase the ONE-TIME build lands on whichever consumer
    # runs first alphabetically, so decade records (runs_per_query=1)
    # showed qz11_canonical_keep 35× and qz22_leakage_safe_split 372×
    # per decade when the real warm cost scales linearly — a bench-
    # attribution artifact, not a plan property.  Here the first
    # consumer of each cache runs once, timed, and the cost is recorded
    # under "index_build" as its own line item; the main loop then
    # measures every query warm-index at every SF.
    index_build: dict[str, float] = {}
    for warm_name in (
        "qz11_canonical_keep",      # builds the exact-Jaccard cluster map
        "qz22_leakage_safe_split",  # builds the MinHash cluster map
        "qz11_incremental_neardup", # builds the MinHash doc index
        "qz12_knn_graph",           # builds the kNN edge set
    ):
        try:
            t0 = time.perf_counter()
            REGISTRY[warm_name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            index_build[warm_name] = round(time.perf_counter() - t0, 3)
            print(
                f"# prewarm {warm_name}: {index_build[warm_name]:.3f}s"
                " (cold, incl. one-time index build)",
                file=sys.stderr,
            )
        except Exception as ex:  # prewarm is attribution — never fail the bench
            print(f"# prewarm {warm_name} failed: {ex}", file=sys.stderr)

    # n>1 runs per query, report the MIN: sf0.1 timings swing up to ~3×
    # run-to-run and Catalyst/codegen compile cost dominates sub-second
    # queries — the min isolates the plan from compile jitter, so
    # round-over-round comparisons measure plans, not JIT warmup.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    query_load1: dict[str, float] = {}  # 1-min loadavg at each query's end
    query_steal_pct: dict[str, float] = {}  # host steal % during each query
    query_gc_ms: dict[str, int] = {}  # JVM GC time during each query
    query_jit_ms: dict[str, int] = {}  # JIT compile time during each query
    query_iowait_pct: dict[str, float] = {}  # host iowait % during each query

    def _cpu_ticks() -> tuple[int, int, int]:
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()[1:]
            return sum(int(v) for v in parts), int(parts[7]), int(parts[4])
        except (OSError, ValueError, IndexError):
            return 0, 0, 0

    # Cumulative JVM GC milliseconds (driver == executor in local mode, so
    # this is the whole engine).  The r12 drift hunt found late-session
    # windows where a query runs 4-6x slow with ZERO host steal — per-query
    # GC deltas are the signal that separates "JVM session decay" (heap
    # pressure, full-GC pauses) from host contention in the same record.
    def _gc_ms() -> int:
        try:
            beans = (
                spark.sparkContext._jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans()
            )
            return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
        except Exception:
            return -1
    # Per-query isolation: one raising query builder must never abort the
    # whole run — rounds 3 and 4 both lost their entire bench artifact to
    # a single broken query (VERDICT r4 "What's wrong" #2).  Failures are
    # recorded under "errors" and the totals always cover whatever ran.
    # The timed action is a NOOP SINK, not count() (round-9 bench-action
    # correction, SCALE.md): count() lets Catalyst column-prune every
    # expression and DELETE row-preserving operators outright — Window,
    # Sort, projections — so count-timed numbers excluded exactly the
    # work window-family queries exist to do (measured at sf10:
    # qz23_gini "0.39 s" under count() vs 9.0 s through the noop sink —
    # the count plan was a bare parquet row-count).  The noop sink
    # consumes every output row with all columns materialized and
    # writes nothing: the standard full-execution action.  limit-
    # queries keep collect() (a noop write would still compute, but
    # collect is what a limit consumer does and pins the row budget).
    def _jit_ms() -> int:
        try:
            return (
                spark.sparkContext._jvm.java.lang.management.ManagementFactory
                .getCompilationMXBean().getTotalCompilationTime()
            )
        except Exception:
            return -1

    # Slow-window thread dumps (r13, VERDICT r12 #2): each full session
    # has ONE window where a query runs 3-10x its typical wall with ~0
    # steal, ~0 iowait, modest GC and no JIT burst — every counter says
    # idle while load1 ~1-2 says the burn is near-single-threaded.  The
    # only probe that can NAME single-threaded work is a thread dump
    # taken inside the window (guide §7.3), so a watchdog arms per run
    # and jcmd-dumps the driver JVM once elapsed exceeds the trigger.
    # Pure instrumentation: dumps go to side files, one "slow_dumps"
    # map is added to the full record, nothing else changes.
    import subprocess
    import threading

    def _driver_jvm_pid() -> int | None:
        try:
            out = subprocess.run(
                ["pgrep", "-P", str(os.getpid()), "java"],
                capture_output=True,
                text=True,
            ).stdout.split()
            return int(out[0]) if out else None
        except Exception:
            return None

    jvm_pid = _driver_jvm_pid()
    slow_trigger_s = float(os.environ.get("SPARK_GRAFT_SLOW_DUMP_S", "10"))
    slow_dumps: dict[str, str] = {}

    def _watchdog(
        name: str, run: int, done_runs: list, t_start: float, done: threading.Event
    ) -> None:
        # typical = the in-flight query's completed runs (``timings`` is
        # only set after all of them, so it never held this query)
        typical = min(done_runs, default=None)
        thresh = max(slow_trigger_s, 4 * typical) if typical else slow_trigger_s
        while not done.wait(0.25):
            if time.perf_counter() - t_start < thresh:
                continue
            # one file per run, truncated by this session's first shot
            path = f"/tmp/bench_slow_dump_{name}_run{run}.txt"
            try:
                import faulthandler

                for shot in range(2):
                    dump = subprocess.run(
                        ["jcmd", str(jvm_pid), "Thread.print"],
                        capture_output=True,
                        text=True,
                        timeout=30,
                    ).stdout
                    with open(path, "a" if shot else "w") as fh:
                        fh.write(
                            f"# {name} shot {shot} at +"
                            f"{time.perf_counter() - t_start:.1f}s "
                            f"load={os.getloadavg()}\n{dump}\n"
                        )
                        # the JVM main thread is just the Py4J gateway:
                        # driver-side PYTHON work (numpy decides, py4j
                        # callbacks) is invisible to jcmd, and a slow
                        # window at load1 ~1 is exactly one busy Python
                        # thread — dump this process's stacks too
                        fh.write(f"# {name} python threads shot {shot}\n")
                        faulthandler.dump_traceback(file=fh)
                    time.sleep(1.0)
                slow_dumps[name] = path
                print(f"# {name}: SLOW window, dumped {path}", file=sys.stderr)
            except Exception as ex:  # instrumentation must never fail a run
                print(f"# {name}: slow-dump failed: {ex}", file=sys.stderr)
            return

    for name, spec in sorted(REGISTRY.items()):
        runs = []
        tick0, steal0, iow0 = _cpu_ticks()
        gc0 = _gc_ms()
        jit0 = _jit_ms()
        try:
            for run in range(n_runs):
                t0 = time.perf_counter()
                done_evt = threading.Event()
                if jvm_pid:
                    threading.Thread(
                        target=_watchdog,
                        args=(name, run, list(runs), t0, done_evt),
                        daemon=True,
                    ).start()
                try:
                    df = spec.fn(spark, sf_dir)
                    if "limit" in name:
                        n = len(df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        n = None
                finally:
                    done_evt.set()
                runs.append(round(time.perf_counter() - t0, 3))
            if n is None:
                n = df.count()  # row count for the log line, untimed
        except Exception as ex:
            errors[name] = f"{type(ex).__name__}: {ex}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        all_runs[name] = runs
        timings[name] = min(runs)
        try:
            query_load1[name] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
        tick1, steal1, iow1 = _cpu_ticks()
        if tick1 > tick0:
            query_steal_pct[name] = round(
                100.0 * (steal1 - steal0) / (tick1 - tick0), 2
            )
            query_iowait_pct[name] = round(
                100.0 * (iow1 - iow0) / (tick1 - tick0), 2
            )
        gc1 = _gc_ms()
        if gc0 >= 0 and gc1 >= gc0:
            query_gc_ms[name] = gc1 - gc0
        jit1 = _jit_ms()
        if jit0 >= 0 and jit1 >= jit0:
            query_jit_ms[name] = jit1 - jit0
        print(f"# {name}: min {timings[name]:.3f}s of {runs} ({n} rows)", file=sys.stderr)

    # approximate-tier quality, tracked round-over-round alongside speed:
    # recall of each ANN/LSH operator against its exact counterpart, and
    # the scanned-candidate fraction beside it (a faster round must not
    # come from silently scanning less — both numbers move together).
    recall: dict[str, float] = {}
    candidate_fraction: dict[str, float] = {}
    try:
        pair = lambda df, a, b: {(r[a], r[b]) for r in df.collect()}  # noqa: E731
        exact_pairs = pair(REGISTRY["q11_ngram_jaccard"].fn(spark, sf_dir), "d1", "d2")
        if exact_pairs:
            mh = pair(REGISTRY["qz11_minhash_lsh"].fn(spark, sf_dir), "d1", "d2")
            recall["qz11_minhash_lsh"] = round(len(exact_pairs & mh) / len(exact_pairs), 4)
        emb_exact = pair(
            REGISTRY["q11_embedding_neardup"].fn(spark, sf_dir), "id1", "id2"
        )
        if emb_exact:
            emb_lsh = pair(
                REGISTRY["qz11_embedding_neardup_lsh"].fn(spark, sf_dir), "id1", "id2"
            )
            recall["qz11_embedding_neardup_lsh"] = round(
                len(emb_exact & emb_lsh) / len(emb_exact), 4
            )
        exact_nn = pair(
            REGISTRY["q12_cosine_topk"].fn(spark, sf_dir), "probe_id", "neighbor_id"
        )
        for q in ("qz12_ann_lsh", "qz12_ivf", "qz12_ivfpq", "qz12_sq8"):
            approx = pair(REGISTRY[q].fn(spark, sf_dir), "probe_id", "neighbor_id")
            recall[q] = round(len(exact_nn & approx) / len(exact_nn), 4)
        from frizzle_spark.operators.similarity import candidate_fractions

        candidate_fraction = candidate_fractions(spark, sf_dir)
    except Exception as ex:  # recall is diagnostics — never fail the bench
        print(f"# recall computation failed: {ex}", file=sys.stderr)

    # clustered-corpus recall BESIDE the random floors (round 9, VERDICT
    # r8 #6): the random testdata has no neighborhood structure, so the
    # numbers above are calibrated floors for any bucketed method — real
    # corpora look like the planted-cluster shape, where these tiers
    # measure ~1.0.  Publishing both in the same artifact keeps the
    # record self-contextualizing instead of leaving the honest number
    # in test/SCALE prose.
    recall_clustered: dict[str, float] = {}
    try:
        import shutil
        import tempfile

        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
        )
        from ann_clustered_bench import make_clustered

        from frizzle_spark.operators import similarity as sim

        vecs, lab = make_clustered(2000, 50, sim.DIM, 0.85)
        cdir = tempfile.mkdtemp(prefix="bench_clustered_")
        try:
            spark.createDataFrame(
                [
                    (i, [float(x) for x in v], int(l))
                    for i, (v, l) in enumerate(zip(vecs, lab))
                ],
                "vec_id long, embedding array<float>, label int",
            ).write.mode("overwrite").parquet(f"{cdir}/embeddings.parquet")
            exact_c = pair(
                REGISTRY["q12_cosine_topk"].fn(spark, cdir),
                "probe_id",
                "neighbor_id",
            )
            for q in ("qz12_ann_lsh", "qz12_ivf", "qz12_ivfpq", "qz12_sq8"):
                got = pair(REGISTRY[q].fn(spark, cdir), "probe_id", "neighbor_id")
                recall_clustered[q] = round(len(exact_c & got) / len(exact_c), 4)
            # the embedding near-dup tier measured on the SAME clustered
            # corpus (round 10, VERDICT r9 #5): its random-floor recall
            # above looks alarming without this companion number
            exact_e = pair(
                REGISTRY["q11_embedding_neardup"].fn(spark, cdir), "id1", "id2"
            )
            if exact_e:
                got_e = pair(
                    REGISTRY["qz11_embedding_neardup_lsh"].fn(spark, cdir),
                    "id1",
                    "id2",
                )
                recall_clustered["qz11_embedding_neardup_lsh"] = round(
                    len(exact_e & got_e) / len(exact_e), 4
                )
        finally:
            shutil.rmtree(cdir, ignore_errors=True)
    except Exception as ex:  # diagnostics only — never fail the bench
        print(f"# clustered recall computation failed: {ex}", file=sys.stderr)

    # bus throughput: q13_stream is the REAL pipeline (file-replay source →
    # transformer → fail routing → parquet sinks, checkpointed), so
    # events/sec through it is the engine's measured single-node bus rate
    # (the reference publishes no throughput numbers — BASELINE.md — so
    # this is the round-over-round record).
    # One in-bench sample proved the least trustworthy number in the
    # round-10 record (51.8k vs the isolated 68.9k median): report the
    # MEDIAN of >=3 runs and publish the per-run spread so round-over-
    # round comparisons never ride a single contended sample.  The
    # isolated BENCH_STREAM.json record remains the headline number.
    stream_rps = None
    stream_rps_runs: list[float] = []
    try:
        if timings.get("q13_stream"):
            n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
            stream_walls = list(all_runs["q13_stream"])
            while len(stream_walls) < 3:
                t0 = time.perf_counter()
                REGISTRY["q13_stream"].fn(spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                stream_walls.append(round(time.perf_counter() - t0, 3))
            stream_rps_runs = sorted(
                round(n_events / w, 1) for w in stream_walls
            )
            stream_rps = stream_rps_runs[len(stream_rps_runs) // 2]
    except Exception as ex:  # diagnostics only — never fail the bench
        print(f"# stream_rps computation failed: {ex}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 3)
    full_record = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        # records self-describe their timed action: "noop-sink" numbers
        # (round 9+) execute the FULL plan; earlier "count" records let
        # Catalyst delete Window/Sort subtrees and are not comparable
        # for window-family queries (SCALE.md round-9 correction)
        "action": "noop-sink",
        "runs_per_query": n_runs,
        "n_queries_ok": len(timings),
        "n_queries_err": len(errors),
        "errors": errors,
        "stream_rows_per_sec": stream_rps,
        "stream_rps_runs": stream_rps_runs,
        "recall": recall,
        "recall_clustered": recall_clustered,
        "candidate_fraction": candidate_fraction,
        # cold first-invocation walls (one-time scratch-index builds);
        # the per-query numbers below are uniformly warm-index
        "index_build": index_build,
        # machine-state evidence (see _env_snapshot): an idle machine
        # shows load ~0 at start; a contended record indicts itself
        "env": {"start": env_start, "end": {**_env_snapshot(), **_jvm_probe(spark)}},
        "query_load1": query_load1,
        # host steal % per query (see _env_snapshot): burst windows of
        # hypervisor contention are the ONLY signal that distinguishes
        # "this query regressed" from "the host was stolen from" —
        # loadavg cannot see them
        "query_steal_pct": query_steal_pct,
        # JVM GC ms per query (see _gc_ms): a late-session slow window
        # with ~0 steal and high gc_ms is engine heap pressure; with ~0
        # of both it is genuinely the query's plan
        "query_gc_ms": query_gc_ms,
        # JIT compile ms per query (see _jvm_probe): a slow window with
        # ~0 steal, ~0 gc and a jit_ms burst is code-cache churn
        "query_jit_ms": query_jit_ms,
        # host iowait % per query (see _env_snapshot): a slow window
        # with ~0 of everything else and high iowait is the host's disk
        # queue (checkpoint fsyncs are the engine's only sync writes)
        "query_iowait_pct": query_iowait_pct,
        # names whose sf0.1 wall is fixed streaming/replay overhead, not
        # data volume (see OVERHEAD_BOUND) — read decade records for
        # their scaling story
        "overhead_bound": [n for n in OVERHEAD_BOUND if n in timings],
        # thread dumps captured inside slow windows (see _watchdog):
        # the VERDICT r12 #2 zero-evidence decay hunter — empty on a
        # healthy run
        "slow_dumps": slow_dumps,
        "queries": timings,
        "runs": all_runs,
    }
    # Line 1: the full record (every per-query time + all runs) for
    # anyone reading complete stdout.
    print(json.dumps(full_record))
    # Durable copy: the driver archives only a 2,000-char stdout tail,
    # so per-query history is otherwise lost round to round (r02–r05
    # kept ~none; r06 kept ~34 of 122 queries).  BENCH_LOCAL.json is
    # committed in-repo and diffed across rounds in SCALE.md.  The sf0.1
    # default keeps the round-over-round record; other SFs (e.g. the
    # sf0.01 iteration loop) write a suffixed file so they never
    # clobber the headline record.
    try:
        suffix = "" if sf_dir.rstrip("/").endswith("sf0.1") else f"_sf{sf_val}"
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), f"BENCH_LOCAL{suffix}.json"
        )
        with open(out_path, "w") as fh:
            json.dump(full_record, fh, indent=1, sort_keys=True)
        print(f"# full record written to {out_path}", file=sys.stderr)
    except OSError as ex:  # durability is best-effort — never fail the bench
        print(f"# BENCH_LOCAL write failed: {ex}", file=sys.stderr)
    # LAST line: a self-contained compact summary that MUST fit the
    # driver's parse window.  Measured driver behavior across rounds:
    # only the LAST 2,000 characters of output are kept, and `parsed`
    # comes from the last complete JSON line INSIDE that window —
    # BENCH_r01 (final line 1,423 chars, 52-query map) parsed WITH its
    # queries map; BENCH_r02 and BENCH_r05 (complete, valid final JSON
    # lines >2,000 chars) both parsed as null and lost every number.
    # So the full 200-query map (~5 KB floor: 3,149 chars of names
    # alone) can never ride this line without destroying it.
    # VERDICT r12 #1 requires per-query comparability in the one-line
    # JSON (`PERF_r12.per_query` was empty two rounds running): the
    # resolution is a "queries" map of the SLOWEST entries, greedily
    # added until the line reaches the budget (~52 queries ≈ everything
    # ≥ ~0.45 s — the entire comparable signal; the sub-noise tail is
    # jitter-dominated at sf0.1 anyway).  This is additions-only: the
    # archived line has carried NO queries map since r06, so nothing is
    # removed or renamed, and the FULL map still rides line 1 of stdout
    # and the committed BENCH_LOCAL.json.
    run_env_end = _env_snapshot()
    run_jvm_end = _jvm_probe(spark)

    def _steal_pct(a: dict, b: dict) -> float | None:
        try:
            dt = b["cpu_ticks_total"] - a["cpu_ticks_total"]
            return round(100.0 * (b["cpu_ticks_steal"] - a["cpu_ticks_steal"]) / dt, 2) if dt else None
        except KeyError:
            return None

    compact = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "total_s": total,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "stream_rows_per_sec": stream_rps,
        # condensed machine evidence (raw snapshots live in the full
        # record): run-wide steal %, load, memory, GC and JIT totals —
        # enough for a drifted record to indict the host or the JVM
        # from the archived line alone (VERDICT r11 #1, r12 #2)
        "env_c": {
            "steal_pct": _steal_pct(env_start, run_env_end),
            "load": [env_start.get("loadavg", [None])[0], run_env_end.get("loadavg", [None])[0]],
            "mem_avail": [env_start.get("MemAvailable"), run_env_end.get("MemAvailable")],
            "gc_s": round(sum(query_gc_ms.values()) / 1000.0, 1),
            "jit_s": round((run_jvm_end.get("jit_total_ms", 0) - env_start.get("jit_total_ms", 0)) / 1000.0, 1),
            "code_cache_kb": run_jvm_end.get("code_cache_used_kb"),
        },
        "recall": recall,
        "recall_clustered": recall_clustered,
        "candidate_fraction": candidate_fraction,
        "queries": {},
    }
    # Greedy fill: slowest first, keep the line comfortably inside the
    # proven 2,000-char parse window (budget 1,900 leaves headroom for
    # a trailing newline and any stray stderr byte accounting).
    budget = 1880
    base_len = len(json.dumps(compact))
    for k, v in sorted(timings.items(), key=lambda kv: -kv[1]):
        cost = len(json.dumps(k)) + len(json.dumps(v)) + 4  # '": "' + '", "'
        if base_len + cost > budget:
            break
        compact["queries"][k] = v
        base_len += cost
    line = json.dumps(compact)
    assert len(line) <= 1995, f"compact line {len(line)} chars outgrew the parse window"
    print(line)


if __name__ == "__main__":
    main()

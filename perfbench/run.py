"""The repository's benchmark: IoT pipeline latency and throughput.

    python3 perfbench/run.py --workload iot-steady --seed 1 --seconds 20 --trace 0

Workloads (inputs and rationale in perfbench/spec.json):
  iot-steady   open loop: a generator process publishes chunks on a fixed
               schedule to the Orchestrator's watched directory.
  iot-catchup  the Orchestrator, its registers prefilled, drains backlog
               bursts one after another, admission bounded by
               maxFilesPerTrigger, until --seconds have passed.

The program is built from this checkout's sources (perfbench/build.py) and
run in its own JVM (perfbench/harness). Latency is derived after the run from
the streaming checkpoints; the final sink state is checked against DuckDB.
With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a traced run, the tracing
overhead (against an untraced run of the same seed) and a one-core baseline, and the
spans go to .bench_run/traces/. Exit status is 0 only for a correct, valid
run.
"""
import argparse
import ctypes
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

SPEC = gen.SPEC
RUN = SPEC["run"]
RUNS = ROOT / ".bench_run"
QUERIES = ["alerts", "location", "history", "profiles", "sales"]
SINKS = {"location": "fitbit", "profiles": "new-user-notification", "sales": "sales"}
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
HARNESS_TIMEOUT_S = 160
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]



class RunError(Exception):
    pass


# ---------------------------------------------------------------- statistics

def tail_rank(n):
    """1-based rank of the tail sample among n: the highest one with at
    least 10 samples beyond it, but never below the median (a smaller
    sample supports no tail; its tail is its upper middle sample)."""
    return max(n - 10, n // 2 + 1)


def tail_percentile(n):
    """The percentile the tail sample sits at."""
    return 100 * tail_rank(n) / n


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The tail of xs per the percentile rule."""
    return sorted(xs)[tail_rank(len(xs)) - 1]


# ------------------------------------------------------------- latency join

def batch_of_file(ckpt):
    """{file name: batch id} from a query's file-source log (sources/0),
    reading compacted logs too."""
    out = {}
    for f in (ckpt / "sources" / "0").iterdir():
        if f.name.startswith(".") or not f.name.split(".")[0].isdigit():
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                out[e["path"].rsplit("/", 1)[-1]] = e["batchId"]
    return out


def commit_times(ckpt):
    """{batch id: commit time in epoch seconds} from the commits/ log."""
    return {int(f.name): f.stat().st_mtime for f in (ckpt / "commits").iterdir()
            if f.name.isdigit()}


def chunk_commits(ckpts, files):
    """For each file, the commit time of the batch that held it on the
    slowest query, or None if some query never committed it."""
    joined = [(batch_of_file(c), commit_times(c)) for c in ckpts]
    out = {}
    for f in files:
        ts = [commits.get(batches.get(f, -1)) for batches, commits in joined]
        out[f] = None if any(t is None for t in ts) else max(ts)
    return out


def query_ckpts(pipeline_dir):
    """The five query checkpoints of the pipeline's Orchestrator, in QUERIES
    order."""
    roots = list((pipeline_dir / "ckpt").iterdir())
    if len(roots) != 1:
        raise RunError(f"expected one orchestrator checkpoint under {pipeline_dir}")
    return [roots[0] / q for q in QUERIES]


# -------------------------------------------------------------------- oracle

def oracle(run, pipeline_dir, parts):
    """Compare the pipeline's alert rows, history rows and three registers
    with DuckDB over the input rows of the staged parts it consumed.
    Returns the mismatching tables."""
    frag = json.loads((run / "fragments.json").read_text())
    warn, lat, lng, tsstr = frag["WarningSql"], frag["LatSql"], frag["LongSql"], frag["TsStrSql"]
    con = duckdb.connect()
    con.execute("CREATE VIEW ev AS SELECT *, epoch_ms(ts_ms) AS ts FROM "
                f"read_parquet('{run / 'inputs.parquet'}') "
                f"WHERE part IN ({', '.join(repr(p) for p in parts)})")
    out = pipeline_dir / "out"
    fields = [d[0][3:] for d in con.execute("SELECT * FROM ev LIMIT 0").description
              if d[0].startswith("nu_")]
    pcols = ", ".join(f"nu_{k} AS {k}" for k in fields)
    expected = {
        "alerts": f"SELECT CAST(user_id AS VARCHAR), {warn}, CAST(epoch_ms(ts) AS VARCHAR) "
                  f"FROM ev WHERE tag = 'fitbit' AND {warn} <> 'no-use'",
        "location": f"SELECT CAST(user_id AS VARCHAR), {lat}, {lng}, epoch_ms(ts) FROM ev "
                    "WHERE tag = 'fitbit' QUALIFY row_number() OVER "
                    "(PARTITION BY user_id ORDER BY ts DESC) = 1",
        "history": f"SELECT CAST(user_id AS VARCHAR), substr({tsstr}, 1, 10), "
                   f"epoch_ms(date_trunc('second', ts)), {lat}, {lng}, value, value "
                   "FROM ev WHERE tag = 'fitbit'",
        "profiles": f"SELECT {pcols}, nu_bmi FROM ev WHERE tag = 'new-user-notification' "
                    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY nu_bmi DESC) = 1",
        "sales": "SELECT sales_date, max(sales_count) FROM ev WHERE tag = 'sales' GROUP BY 1",
    }
    pq = "read_parquet('{}/**/*.parquet'{})"
    actual = {
        "alerts": f"SELECT user_id, warning, machine_ts FROM {pq.format(out / 'alerts', '')}",
        "location": f"SELECT user_id, lat, long, ver FROM {pq.format(out / 'location', '')}",
        "history": "SELECT user_id, CAST(dt AS VARCHAR), time_ms, lat, long, pulse, temp FROM "
                   + pq.format(pipeline_dir / 'history', ', hive_partitioning = true'),
        "profiles": f"SELECT {', '.join(fields)}, ver FROM "
                    + pq.format(out / 'profiles', ''),
        "sales": f"SELECT date, count FROM {pq.format(out / 'sales', '')}",
    }
    bad = []
    for t in expected:
        e, a = expected[t], actual[t]
        try:
            n = con.execute(f"SELECT (SELECT count(*) FROM ({e} EXCEPT ALL {a})) + "
                            f"(SELECT count(*) FROM ({a} EXCEPT ALL {e}))").fetchone()[0]
            rows = con.execute(f"SELECT count(*) FROM ({e})").fetchone()[0]
        except duckdb.Error as err:
            bad.append(f"{t}: {err}")
            continue
        if n or not rows:
            bad.append(f"{t}: {n} rows differ of {rows} expected")
    return bad


# ------------------------------------------------------------------ one run

def java_cmd(classpath, run, **args):
    session = SPEC["session"]
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    conf = [f"conf.{k}={v}" for k, v in session["conf"].items()]
    return (["java"] + session["jvm_heap"] + ["-XX:-UsePerfData",
                                              f"-Djava.io.tmpdir={run / 'tmp'}"] + opens
            + ["-cp", os.pathsep.join(map(str, classpath)), "perfbench.Harness", f"run={run}",
               f"master={session['master']}"] + conf
            + [f"{k}={v}" for k, v in args.items()])


def die_with_parent():
    """In the child: have the kernel kill it if this process dies."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def start_harness(classpath, run, **args):
    (run / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(run / "harness.log", "w")
    return subprocess.Popen(java_cmd(classpath, run, **args), stdout=log,
                            stderr=subprocess.STDOUT, cwd=run,
                            preexec_fn=die_with_parent), log


def finish(proc, log, run, deadline):
    """Wait for the harness to exit by the deadline; kill it otherwise."""
    try:
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0:
        tail_log = (run / "harness.log").read_text()[-3000:]
        raise RunError(f"harness exited with {proc.returncode}:\n{tail_log}")
    return json.loads((run / "harness.json").read_text())


def make_events(run, workload, seed, seconds):
    """The generator's events and chunk list for one run; the harness
    renders them into staged chunk files during its set-up."""
    subprocess.run([sys.executable, str(HERE / "gen.py"), "events", "--run", str(run),
                    "--workload", workload, "--seed", str(seed), "--seconds", str(seconds)],
                   check=True, preexec_fn=die_with_parent)
    return json.loads((run / "chunks.json").read_text())


def run_dir(tag):
    run = RUNS / f"{tag}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    return run


def run_workload(classpath, name, seed, seconds, trace, cores, setups):
    """One full run in a fresh JVM with `setups` set-ups. Returns (e2e
    metrics, attempted, failed, problems, per-layer metrics or None)."""
    w = SPEC["workloads"][name]
    run = run_dir(f"{name}-{seed}-{int(trace)}")
    t0 = time.time()
    chunks = make_events(run, name, seed, seconds)
    events_s = time.time() - t0
    deadline = time.time() + HARNESS_TIMEOUT_S
    proc, log = start_harness(classpath, run, mode=w["mode"], cores=cores, trace=int(trace),
                              setups=setups, maxFiles=w["max_files_per_trigger"],
                              seconds=seconds)
    try:
        if w["mode"] == "steady":
            ready = run / "ready"
            while not ready.exists():
                if proc.poll() is not None or time.time() > deadline:
                    break
                time.sleep(0.05)
            else:
                subprocess.run([sys.executable, str(HERE / "gen.py"), "publish", "--run", str(run),
                                "--watch", ready.read_text()],
                               check=True, preexec_fn=die_with_parent)
                (run / "stop").write_text("")
    except BaseException:
        proc.kill()
        proc.wait()
        log.close()
        raise
    h = finish(proc, log, run, deadline)

    pipeline = Path(h["dir"])
    if w["mode"] == "steady":
        # Each chunk is timed from when it was due.
        glog = json.loads((run / "gen_log.json").read_text())
        publish = {g["file"]: (g["due"], g["actual"]) for g in glog}
        groups = [[c for c in chunks if c["part"] == "main"]]
        late = [1000 * (a - d) for d, a in publish.values()]
        setup = h["setup_samples_s"]
    else:
        # Each burst's chunks are timed from when the burst was published.
        publish, groups = {}, []
        for k, b in enumerate(h["bursts"]):
            group = [c for c in chunks if c["part"] == f"burst{k}"]
            start = b["start_ms"] / 1000
            publish.update({c["file"]: (start, start + b["publish_ms"] / 1000) for c in group})
            groups.append(group)
        late = [b["publish_ms"] for b in h["bursts"]]
        setup = [s + h["prefill_s"] for s in h["setup_samples_s"]]
    main = [c for g in groups for c in g]
    commits = chunk_commits(query_ckpts(pipeline), [c["file"] for c in main])
    by_rank, busy_s = {}, 0.0
    for group in groups:
        done = [c for c in group if commits[c["file"]] is not None]
        ranked = sorted(1000 * (commits[c["file"]] - publish[c["file"]][0]) for c in done)
        for i, x in enumerate(ranked):
            by_rank.setdefault(i, []).append(x)
        if done:
            first = min(publish[c["file"]][0] for c in group)
            busy_s += max(commits[c["file"]] for c in done) - first
    # One latency sample per rank within a chunk group (its median over the
    # groups), so the sample count, and so the tail percentile, is fixed
    # per workload however many bursts fit in the run.
    lat = [median(v) for v in by_rank.values()]
    attempted = len(main)
    failed = sum(commits[c["file"]] is None for c in main)
    problems = []
    if failed:
        problems.append(f"{failed} of {attempted} chunks not committed by every query")
    if tail(late) > RUN["late_limit_ms"]:
        problems.append(f"invalid run: generator late by {tail(late):.1f} ms "
                        f"(limit {RUN['late_limit_ms']} ms)")
    parts = {"warm", "prefill", "main"} | {f"burst{k}" for k in range(len(groups))}
    bad = oracle(run, pipeline, parts)
    if bad:
        problems += [f"oracle mismatch: {b}" for b in bad]
        failed = attempted
    nan = math.nan
    metrics = {
        "setup_s": median(setup),
        "result_latency_p50_ms": median(lat) if lat else nan,
        "result_latency_tail_ms": tail(lat) if lat else nan,
        # All measured events over the time from each group's first publish
        # to its last commit, summed over groups.
        "drain_events_per_s": sum(c["events"] for c in main) / busy_s if busy_s else nan,
        "process_cpu_ms_per_kevent": 1e6 * h["process_cpu_s"] / sum(c["events"] for c in main),
        "peak_rss_mb": h["peak_rss_mb"],
    }
    print(f"perfbench: {name} seed {seed}: events {events_s:.2f} s, session {h['session_s']:.2f} s, "
          f"render {h['render_s']:.2f} s, "
          f"set-ups {[round(x, 2) for x in setup]} s; {len(lat)} latency samples, tail = "
          f"p{tail_percentile(len(lat)):.1f}; {len(groups)} chunk group(s); latency ms "
          f"{[round(x) for x in sorted(lat)]}", file=sys.stderr)
    layer = None
    if trace:
        layer = per_layer(dict(run=run, h=h, chunks=chunks, main=main, pipeline=pipeline,
                               late=late, publish=publish, name=name, seed=seed,
                               cores=cores))
    shutil.rmtree(run, ignore_errors=True)
    return metrics, attempted, failed, problems, layer


# --------------------------------------------------------------- trace data

def trigger_spans(progress, names):
    """Trigger spans and their progress-phase children, laid out in the
    order MicroBatchExecution runs the phases."""
    spans = []
    for p in progress:
        q = names.get(p["runId"])
        d = p["durationMs"]
        if q is None or "addBatch" not in d:
            continue
        start = iso_us(p["timestamp"])
        tid = f"orch.{q}#{p['runId']}#{p['batchId']}"
        spans.append({"name": f"orch.{q}.trigger", "id": tid, "parent": None,
                      "start_us": start, "end_us": start + 1000 * d["triggerExecution"],
                      "rows": p["numInputRows"]})
        t = start
        for ph in PHASES:
            if ph in d:
                spans.append({"name": f"orch.{q}.{ph}", "id": f"{tid}/{ph}", "parent": tid,
                              "start_us": t, "end_us": t + 1000 * d[ph]})
                t += 1000 * d[ph]
    return spans


def iso_us(ts):
    """Epoch microseconds of a progress timestamp (ISO 8601, UTC)."""
    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


def self_time_us(span, children):
    """A span's duration minus the part of it its children cover."""
    iv = sorted((max(c["start_us"], span["start_us"]), min(c["end_us"], span["end_us"]))
                for c in children)
    covered, end = 0, span["start_us"]
    for s, e in iv:
        s = max(s, end)
        if e > s:
            covered += e - s
            end = e
    return span["end_us"] - span["start_us"] - covered


def per_layer(x):
    """The per-layer metrics of a traced run; writes its span file."""
    run, h, main = x["run"], x["h"], x["main"]
    progress = [json.loads(l) for l in (run / "progress.jsonl").read_text().splitlines() if l]
    spans = trigger_spans(progress, {q["runId"]: q["name"] for q in h["queries"]})
    spans += [json.loads(l) for l in (run / "spans.jsonl").read_text().splitlines() if l]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def ms(s):
        return (s["end_us"] - s["start_us"]) / 1000

    def self_ms(s):
        return self_time_us(s, kids.get(s["id"], [])) / 1000

    def named(n):
        return [s for s in spans if s["name"] == n]

    published = sum(c["events"] for c in main)
    trig = [s for s in spans if s["name"].endswith(".trigger")]
    m = {"gen.late_ms_tail": tail(x["late"]), "gen.chunks": len(main), "gen.events": published,
         "source.latestOffset_ms_p50": median(
             [ms(s) for s in spans if s["name"].endswith(".latestOffset")]),
         "source.getBatch_ms_p50": median(
             [ms(s) for s in spans if s["name"].endswith(".getBatch")]),
         "source.lag_events_max": lag_events_max(x),
         "source.read_amplification": sum(s["rows"] for s in trig) / published}
    for q in QUERIES:
        qs = named(f"orch.{q}.trigger")
        m[f"orch.{q}.trigger_ms_p50"] = median([ms(s) for s in qs])
        m[f"orch.{q}.trigger_ms_tail"] = tail([ms(s) for s in qs])
        m[f"orch.{q}.trigger_self_ms_p50"] = median([self_ms(s) for s in qs])
        for ph in ("queryPlanning", "walCommit", "commitOffsets", "addBatch"):
            m[f"orch.{q}.{ph}_ms_p50"] = median([ms(s) for s in named(f"orch.{q}.{ph}")])
    m["pipelines.parse_fitbit_ns_per_event"] = h["parse_fitbit_ns_per_event"]
    m["pipelines.warning_ns_per_event"] = h["warning_ns_per_event"]
    listener = h["listener"]
    for s, tag in SINKS.items():
        ups = named(f"sink.{s}.upsert")
        m[f"sink.{s}.upsert_ms_p50"] = median([ms(u) for u in ups])
        m[f"sink.{s}.upsert_ms_tail"] = tail([ms(u) for u in ups])
        m[f"sink.{s}.upsert_self_ms_p50"] = median([self_ms(u) for u in ups])
        t = listener.get(f"sink.{s}", {})
        m[f"sink.{s}.bytes_written"] = t.get("bytes_written", 0.0)
        # Rows the merges wrote per row delivered to the register.
        m[f"sink.{s}.write_amplification"] = (t.get("records_written", 0.0)
                                              / sum(c["by_tag"][tag] for c in main))
    first = min(due for due, _ in x["publish"].values())
    written = [f.stat().st_size for f in (x["pipeline"] / "history").rglob("*.parquet")
               if f.stat().st_mtime >= first]
    m["history.files_written"] = len(written)
    m["history.bytes_written"] = sum(written)
    for k in ("executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "tasks"):
        m[f"spark.{k}"] = listener["spark"][k]
    # The traced harness ends by draining one chunk group as a single
    # backlog at all cores and at one.
    backlog = "main" if x["name"] == "iot-steady" else "burst0"
    events = sum(c["events"] for c in x["chunks"] if c["part"] == backlog)
    m["scaling.drain_events_per_s_1core"] = events / h["drain_s_1"]
    m["scaling.speedup_ncores"] = h["drain_s_1"] / h[f"drain_s_{x['cores']}"]
    write_spans(x, spans)
    return m


def lag_events_max(x):
    """The most events published but not yet committed by one query,
    sampled at each of its commits."""
    per_file = {c["file"]: c["events"] for c in x["main"]}
    worst = 0
    for ck in query_ckpts(x["pipeline"]):
        per_batch = {}
        for f, b in batch_of_file(ck).items():
            per_batch[b] = per_batch.get(b, 0) + per_file.get(f, 0)
        done = 0
        for b, t in sorted(commit_times(ck).items()):
            done += per_batch.get(b, 0)
            pub = sum(e for f, e in per_file.items() if x["publish"][f][1] <= t)
            worst = max(worst, pub - done)
    return worst


def batch_key(span):
    """(query, run id, batch id) of the trigger a span belongs to."""
    for ref in (span["id"], span["parent"] or ""):
        m = re.match(r"(?:orch|sink)\.(\w+)#([0-9a-f-]+)#(\d+)", ref)
        if m:
            return m.group(1), m.group(2), int(m.group(3))
    return None


def write_spans(x, spans):
    """Write every span with its trace id (the chunk ids its batch held) to
    .bench_run/traces/<workload>-seed<seed>.jsonl."""
    chunk_of = {c["file"]: c["chunk"] for c in x["chunks"]}
    runs = {q["name"]: q["runId"] for q in x["h"]["queries"]}
    held = {}
    for q, ck in zip(QUERIES, query_ckpts(x["pipeline"])):
        for f, b in batch_of_file(ck).items():
            held.setdefault((q, runs[q], b), []).append(chunk_of[f])
    out = [{"name": "gen.publish", "id": f"gen#{chunk_of[f]}", "parent": None,
            "trace": [chunk_of[f]], "start_us": int(due * 1e6), "end_us": int(actual * 1e6)}
           for f, (due, actual) in x["publish"].items()]
    for s in spans:
        out.append({k: s[k] for k in ("name", "id", "parent", "start_us", "end_us")}
                   | {"trace": sorted(held.get(batch_key(s), []))})
    d = RUNS / "traces"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{x['name']}-seed{x['seed']}.jsonl"
    path.write_text("".join(json.dumps(s) + "\n" for s in out))
    print(f"spans: {path} ({len(out)} spans)", file=sys.stderr)


# --------------------------------------------------------------------- main

def units(kind):
    """{metric: unit} for one metric list of BENCHMARK.json."""
    return {x["name"]: x["unit"] for x in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]}


def result(correct, attempted, failed, metrics, units):
    missing = [k for k in units if not math.isfinite(metrics.get(k, math.nan))]
    if missing:
        raise RunError(f"not measured: {', '.join(missing)}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind normally so running children are killed and reaped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = os.cpu_count() or 1
    try:
        classpath = build.build()
        # A traced run reports no set-up time, so both of its runs set up
        # only once.
        setups = 1 if a.trace else RUN["setups"]
        e2e, attempted, failed, problems, _ = run_workload(
            classpath, a.workload, a.seed, a.seconds, False, cores, setups)
        if a.trace:
            traced, att2, fail2, prob2, m = run_workload(
                classpath, a.workload, a.seed, a.seconds, True, cores, setups)
            attempted, failed, problems = attempted + att2, failed + fail2, problems + prob2
            # Each as the cost of tracing, so that lower is better for all.
            for k in ("result_latency_p50_ms", "result_latency_tail_ms",
                      "process_cpu_ms_per_kevent"):
                m[f"trace.overhead.{k}"] = traced[k] - e2e[k]
            m["trace.overhead.drain_events_per_s"] = (e2e["drain_events_per_s"]
                                                      - traced["drain_events_per_s"])
            out = result(not problems, attempted, failed, m, units("per_layer"))
        else:
            out = result(not problems, attempted, failed, e2e, units("end_to_end"))
    except (build.BuildError, RunError, subprocess.CalledProcessError) as e:
        sys.exit(f"perfbench: {e}")
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()

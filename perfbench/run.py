"""graft benchmark: one workload, one seed, one result line.

  python3 perfbench/run.py --workload epoch_ingest --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --workload curate_corpus --seed 1 --seconds 20 --trace 1
  python3 perfbench/run.py --workload http_avro_drain --seed 1 --seconds 20 --trace 0 --cores 1

Run from the root of a source checkout. The first run builds the library and
the harness (perfbench/build.sbt) with sbt; later runs reuse the build. Each
run generates its inputs from --seed (gen.py; epoch_ingest and curate_corpus
also get warm-up inputs from another seed), starts the page server for
http_avro_drain (pageserver.py), runs the workload in one JVM at
local[--cores] (default: every core) through graft's public entry points,
checks the outputs, and prints:

  - a line starting "RECORD " with the run's context: effective core count,
    load average at start and end, JVM version and heap flags, the measured input
    properties and the set-up breakdown;
  - as the last line, {"correct", "attempted", "failed", "metrics"}: the
    end-to-end metrics with --trace 0, the per-layer metrics with --trace 1
    (units from BENCHMARK.json). `failed / attempted` is the run's
    failed_ratio.

A traced run also writes its spans to perfbench/work/results/. Exits 1 if an
output check failed, 2 if the run could not be set up.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("epoch_ingest", "http_avro_drain", "curate_corpus")
# per-layer metric families each workload must report itself; every other
# per-layer metric reads 0 on that workload (its layer is idle there)
OWNED = {
    "epoch_ingest": ("pipeline.", "sinks."),
    "http_avro_drain": ("sources.", "serde.", "sinks.", "spark.microbatch."),
    "curate_corpus": ("operators.",),
}
GENERATIONS = 3
# the heap starts small and G1 grows it as the workload needs, so the peak
# RSS can show a change in what the workload keeps live (a heap fixed at its
# cap would read the cap whatever the workload keeps)
JVM_HEAP = ["-Xms256m", "-Xmx1g"]
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graft benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            if os.path.getmtime(base) > t:
                return True
            continue
        for d, _, files in os.walk(base):
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return False


def build():
    """Compile the library's main sources with the harness; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a source checkout")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and not sources_newer_than(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(cp_file) as f:
        return f.read().strip()


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_server(inp, truth):
    """The page server for http_avro_drain; returns (process, base URL)."""
    server = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "pageserver.py"), "--docs", os.path.join(inp, "docs.jsonl"),
         "--page-size", str(truth["page_size"]), "--rotate-after", str(truth["rotate_after"]),
         "--threads", str(os.cpu_count())],
        stdout=subprocess.PIPE, text=True)
    line = server.stdout.readline()
    if not line.startswith("PORT "):
        stop(server)
        fail("page server did not start")
    return server, f"http://127.0.0.1:{int(line.split()[1])}"


def java(classpath, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JVM_HEAP + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "graftbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="local[N] core count (1 gives the single-thread baseline)")
    ap.add_argument("--ballast-mb", type=int, default=0,
                    help="keep this many MB live in the JVM for the whole run (shows that peak_rss_mb moves)")
    a = ap.parse_args()
    # a terminated run still stops the page server and the JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    load_start = loadavg()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    classpath = build()
    t_start = time.time()  # the run's own deadline starts after the build

    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    results = os.path.join(HERE, "work", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    inp = os.path.join(work, "input")

    server = jvm = None
    try:
        # set-up 1: input generation and staging, several times; the median counts
        gen_times = []
        for _ in range(GENERATIONS):
            t0 = time.perf_counter()
            shutil.rmtree(inp, ignore_errors=True)
            truth = gen.generate(a.workload, a.seed, inp)
            gen_times.append(time.perf_counter() - t0)
        gen_s = statistics.median(gen_times)
        warm_inp = ""
        if a.workload in gen.WARMUP:
            t0 = time.perf_counter()
            warm_inp = os.path.join(work, "warmup-input")
            gen.generate_warmup(a.workload, a.seed, warm_inp)
            gen_s += time.perf_counter() - t0

        # set-up 2: the page server, a process of its own
        server_s = 0.0
        server_url = ""
        if a.workload == "http_avro_drain":
            t0 = time.perf_counter()
            server, server_url = start_server(inp, truth)
            server_s = time.perf_counter() - t0

        # set-up 3 and the run: the JVM (session start and warm-up are
        # reported by the harness), then the measured rounds
        cmd = java(classpath, work,
                   ["--workload", a.workload, "--input", inp, "--work", os.path.join(work, "jvm"),
                    "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
                    "--server", server_url, "--warmup-input", warm_inp, "--ballast-mb", str(a.ballast_mb),
                    "--run-id", f"{a.workload}-s{a.seed}-c{a.cores}"])
        log_path = os.path.join(work, "jvm.log")
        spawn = time.time()
        with open(log_path, "w") as log:
            jvm = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = jvm.communicate(timeout=max(10.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                stop(jvm)
                fail("the workload did not finish in time")
        res = None
        for line in out.splitlines():
            if line.startswith("GRAFTBENCH "):
                res = json.loads(line[len("GRAFTBENCH "):])
        if res is None:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"the harness exited with {jvm.returncode} and no result")
        if not res["correct"]:
            with open(log_path) as f:
                sys.stderr.write("".join(l for l in f if "CHECK FAILED" in l))
    finally:
        stop(jvm)
        stop(server)

    info = res["info"]
    jvm_ready_s = info["session_ready_epoch_ms"] / 1000.0 - spawn
    setup = {"generate_s": gen_s, "page_server_s": server_s, "jvm_session_s": jvm_ready_s,
             "warmup_s": info["warmup_s"]}
    metrics = dict(res["metrics"])
    if a.trace == 0:
        metrics["setup_s"] = sum(setup.values())
        wanted = spec["end_to_end"]
    else:
        wanted = spec["per_layer"]
        for m in wanted:
            if m["name"] not in metrics:
                if m["name"].startswith(OWNED[a.workload]):
                    fail(f"{a.workload} did not report {m['name']}")
                metrics[m["name"]] = 0.0
    names = {m["name"] for m in wanted}
    unknown = sorted(set(metrics) - names)
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}")

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "cores_requested": a.cores, "effective_cores": info["effective_cores"], "master": info["master"],
        "load_avg_start": load_start, "load_avg_end": loadavg(),
        "jvm_version": info["jvm_version"], "jvm_heap_flags": JVM_HEAP, "jvm_max_heap_mb": info["jvm_xmx_mb"],
        "heap_after_gc_peak_mb": info["heap_after_gc_peak_mb"], "ballast_mb": info["ballast_mb"],
        "spark_version": info["spark_version"], "setup": setup, "input_properties": truth["properties"],
        "rounds": info["rounds"], "round_s": info["round_s"], "traced_rounds": info["traced_rounds"],
        "measured_s": info["measured_s"],
        "rows": info["rows"], "batch_n": info["batch_n"], "batch_n_beyond_p90": info["batch_n_beyond_p90"],
        "failed_ratio": res["failed"] / max(res["attempted"], 1), "failures": info["failures"],
    }
    tag = f"{a.workload}-s{a.seed}-c{a.cores}-t{a.trace}"
    if a.trace:
        spans = os.path.join(work, "jvm", "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, f"{tag}-spans.jsonl"))
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in wanted}
    print("RECORD " + json.dumps(record))
    print(json.dumps({
        "correct": bool(res["correct"]), "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

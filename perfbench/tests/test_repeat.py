"""The benchmark's own checks.

  python3 perfbench/tests/test_repeat.py            # everything below (about 8 minutes)
  python3 perfbench/tests/test_repeat.py --quick    # generators only (seconds)

1. The generators are deterministic: the same seed writes byte-identical
   inputs, and another seed writes different ones.
2. The exact counts a later change may cite as evidence repeat exactly for
   a given seed: two traced runs of each workload with the same seed must
   report the same `pipeline.epochs`, `pipeline.spark_jobs_per_epoch`,
   `sources.fetches_per_page`, `operators.lsh_candidates` and
   `operators.cc_spark_jobs`, and those counts must be the expected ones
   where the expectation is known up front.
3. peak_rss_mb can show a change in what the program keeps live: a run
   that keeps 300 MB more live (`run.py --ballast-mb 300`) must read at
   least 150 MB more than the same run without it.

Run from the root of a source checkout; exits non-zero on the first
failure.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

EXACT = {
    "epoch_ingest": ["pipeline.epochs", "pipeline.spark_jobs_per_epoch"],
    "http_avro_drain": ["sources.fetches_per_page"],
    "curate_corpus": ["operators.lsh_candidates", "operators.cc_spark_jobs"],
}
SEED = 5


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check(what, ok, detail=""):
    print(("ok   " if ok else "FAIL ") + what + (f": {detail}" if detail else ""), flush=True)
    if not ok:
        sys.exit(1)


def test_generators():
    scratch = os.path.join(BENCH, "work", "test-gen")
    try:
        for w in gen.GENERATORS:
            a, b, c = (os.path.join(scratch, w, x) for x in "abc")
            gen.generate(w, SEED, a)
            gen.generate(w, SEED, b)
            gen.generate(w, SEED + 1, c)
            check(f"{w}: same seed, identical inputs", digest(a) == digest(b))
            check(f"{w}: another seed, other inputs", digest(a) != digest(c))
        t = gen.generate("epoch_ingest", SEED, os.path.join(scratch, "ev"))
        check("events: some windows are empty", 0 < t["empty_epochs"] < t["epochs"],
              f'{t["empty_epochs"]} of {t["epochs"]}')
        t = gen.generate("curate_corpus", SEED, os.path.join(scratch, "cc"))
        sizes = {int(k) for k in t["properties"]["family_size_histogram"]}
        check("corpus: chain families longer than four documents", max(sizes) > 4, str(sorted(sizes)))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def traced(workload):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "4", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True)
    check(f"{workload}: traced run exits 0", p.returncode == 0, p.stderr[-1500:])
    res = json.loads(p.stdout.strip().splitlines()[-1])
    check(f"{workload}: output checks pass", res["correct"] and res["failed"] == 0)
    return {k: v["value"] for k, v in res["metrics"].items()}


def test_exact_counts():
    scratch = os.path.join(BENCH, "work", "test-truth")
    truth = gen.generate("epoch_ingest", SEED, scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    for workload, names in EXACT.items():
        first, second = traced(workload), traced(workload)
        for n in names:
            check(f"{workload}: {n} repeats exactly ({first[n]})", first[n] == second[n], f"{first[n]} vs {second[n]}")
        if workload == "epoch_ingest":
            check("pipeline.epochs equals the generator's window fold", first["pipeline.epochs"] == truth["epochs"],
                  f'{first["pipeline.epochs"]} vs {truth["epochs"]}')
        if workload == "http_avro_drain":
            # the AvailableNow capture walk and the partition readers each
            # fetch every page once
            check("sources.fetches_per_page is 2.0", first["sources.fetches_per_page"] == 2.0,
                  str(first["sources.fetches_per_page"]))


def untraced(workload, *extra):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "4", "--trace", "0", *extra],
                       cwd=ROOT, capture_output=True, text=True)
    check(f"{workload} {' '.join(extra)}: untraced run exits 0", p.returncode == 0, p.stderr[-1500:])
    return {k: v["value"] for k, v in json.loads(p.stdout.strip().splitlines()[-1])["metrics"].items()}


def test_rss_moves():
    base = untraced("epoch_ingest")["peak_rss_mb"]
    more = untraced("epoch_ingest", "--ballast-mb", "300")["peak_rss_mb"]
    check("peak_rss_mb rises with 300 MB more kept live", more - base >= 150, f"{base:.0f} -> {more:.0f} MB")


if __name__ == "__main__":
    test_generators()
    if "--quick" not in sys.argv:
        test_exact_counts()
        test_rss_moves()

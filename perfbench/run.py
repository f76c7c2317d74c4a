#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload splice_convert --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Builds graft and the JVM harness from source (once per checkout, under
.bench_build/), generates the workload's inputs from the seed, runs one
fresh JVM (warm-up on another seed's inputs, then the timed phase),
checks every output, and prints the metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a separately traced phase. `--workload all` runs the
three workloads in turn and exits 1 if any output check failed. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen_coring  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars, which include scalac: $SPARK_HOME/jars, else the
    unmanagedBase that build.sbt compiles graft against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
RUN_LIMIT_S = 175
WARM_SEED, TRACE_SEED = 1_000_003, 2_000_003  # offsets: warm-up and traced inputs

WORKLOADS = ["splice_convert", "measurement_export", "corpus_queries"]
N_SITES, WARM_SITES = 40, 2
CORPUS_SCALE, WARM_CORPUS_SCALE = 0.125, 0.05
EXPORT_SCALE, WARM_EXPORT_SCALE = 2.0, 0.1
QUERIES = """q01_pricing_summary q285_grouped_ols q287_cohort_ltv q379_shipmode_priority
q291_sole_late_supplier q40_minhash_lsh q41_simhash q86_simhash_pairs q66_dup_components
q67_dedup_survivors q111_dedup_recall q47_embedding_neardup q48_knn_ivf q105_knn_ivfpq
q242_pq_incremental q83_ann_recall q382_margin_mining_lsh q59_repetition q72_bm25
q80_bpe_encode q90_perplexity q135_kn3_model q94_substr_spans q63_curation_funnel
q100_curation_v2 q251_curation_v3 q147_winnow_pairs q155_winnow_spans
q247_winnow_incremental q283_prefix_jaccard q201_pagerank q309_brand_pagerank q314_hits
q387_walk_pairs q392_biased_walks q400_dbscan q276_clustering_coeff q99_audio_decode
q104_audio_features q237_brand_affinity""".split()
# one query per family: the corpus warm-up
WARM_QUERIES = ["q01_pricing_summary", "q40_minhash_lsh", "q47_embedding_neardup",
                "q72_bm25", "q63_curation_funnel", "q201_pagerank", "q99_audio_decode"]
# The slowest DuckDB oracles, slowest first (q83's takes ~12 s, mostly
# planning its long SQL): the output check hands them out first, so
# its check threads finish together.
SLOW_ORACLES = ["q83_ann_recall", "q155_winnow_spans", "q147_winnow_pairs", "q400_dbscan",
                "q111_dedup_recall", "q105_knn_ivfpq", "q47_embedding_neardup",
                "q251_curation_v3", "q382_margin_mining_lsh", "q247_winnow_incremental"]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not src:
        fail("no graft sources under src/main/scala; run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    return src + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build():
    """Compile graft and the harness with scalac (shipped with Spark);
    skipped when the sources have not changed since the last build."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in files))
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed", 3)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


# ---- inputs --------------------------------------------------------------

def make_inputs(workload, seed, dest, warm):
    if workload == "splice_convert":
        gen_coring.splice_sites(dest, seed, WARM_SITES if warm else N_SITES)
    elif workload == "measurement_export":
        gen_coring.export_inputs(dest, seed, WARM_EXPORT_SCALE if warm else EXPORT_SCALE,
                                 with_site=not warm, passes=1 if warm else 2)
    else:
        import gen_corpus
        gen_corpus.generate(BUILD, dest, seed, WARM_CORPUS_SCALE if warm else CORPUS_SCALE)


def input_rows(workload, dest):
    """Input rows one pass over dest handles: control-table rows for
    splice_convert, measurement rows per export, all table rows for
    corpus_queries."""
    if workload == "corpus_queries":
        import pyarrow.parquet as pq
        return sum(pq.ParquetFile(p).metadata.num_rows
                   for p in glob.glob(os.path.join(dest, "*.parquet")))
    if workload == "measurement_export":
        return sum(int(line.split("\t")[5]) for line in open(os.path.join(dest, "ops.tsv")))
    return sum(sum(1 for _ in open(p)) - 1
               for p in glob.glob(os.path.join(dest, "site_*", "*.csv")))


# ---- checks --------------------------------------------------------------

def check_outputs(workload, dest, out, oracle_path):
    """operation name -> error text or None"""
    if workload == "splice_convert":
        return {s: checks.check_site(os.path.join(dest, s), os.path.join(out, s))
                for s in sorted(os.listdir(dest)) if s.startswith("site_")}
    if workload == "measurement_export":
        conv = os.path.join(out + "-conv", "site_000")
        res = {"convert": checks.check_site(os.path.join(dest, "site_000"), conv)}
        con, expected = checks.connect(2, "2GB"), {}
        for line in open(os.path.join(dest, "ops.tsv")):
            name, table, depth, off, whole, _ = line.rstrip("\n").split("\t")
            md = os.path.join(dest, table)
            if (md, off, whole) not in expected:
                expected[md, off, whole] = checks.export_expected(
                    con, md, os.path.join(conv, "sit.csv"), os.path.join(conv, "affine.csv"),
                    depth, off == "true", whole == "true")
            res[name] = checks.check_export(con, os.path.join(out, name + ".csv"),
                                            expected[md, off, whole], md, off == "true")
        con.close()
        return res
    return checks.check_queries(dest, out, QUERIES, oracle_path, first=SLOW_ORACLES)


# ---- run -----------------------------------------------------------------

def run_jvm(classes, args, log_path, deadline):
    cp = [classes] + ([os.path.join(ROOT, "src/main/resources")]
                      if os.path.isdir(os.path.join(ROOT, "src/main/resources")) else [])
    tmp = os.path.join(os.path.dirname(log_path), "jtmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", ":".join(cp + [os.path.join(SPARK_JARS, "*")]),
              "graft.perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=os.path.dirname(log_path))
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(log_path) as f:
            print(f.read()[-3000:], file=sys.stderr)
        fail(f"harness exited {p.returncode} (killed at the run's time limit if negative)", 4)


def p75(values):
    return statistics.quantiles(values, n=4)[2] if len(values) > 1 else values[0]


def run_workload(w, a, spec, classes):
    """One run of workload w; prints its metrics and returns the number
    of failed operations."""
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{w}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        dirs = {k: os.path.join(run_dir, k) for k in ("warm", "timed", "timed2", "out", "local")}
        make_inputs(w, WARM_SEED + a.seed, dirs["warm"], warm=True)
        make_inputs(w, a.seed, dirs["timed"], warm=False)
        if a.trace:
            make_inputs(w, TRACE_SEED + a.seed, dirs["timed2"], warm=False)
        os.sync()  # write the inputs back now, not during the timed phase
        t1 = time.time()
        result_path = os.path.join(run_dir, "result.json")
        cores = os.cpu_count()
        run_jvm(classes, {
            "workload": w, "cores": cores, "trace": a.trace, "warm": dirs["warm"],
            "timed": dirs["timed"], "timed2": dirs["timed2"], "out": dirs["out"],
            "result": result_path, "localdir": dirs["local"],
            "queries": ",".join(QUERIES), "warmqueries": ",".join(WARM_QUERIES)},
            os.path.join(run_dir, "harness.log"), deadline)
        res = json.load(open(result_path))
        t2 = time.time()

        phases = [("timed", res["ops"])] + ([("timed2", res["traced_ops"])] if a.trace else [])
        attempted, failed, errors = 0, 0, []
        for tag, ops in phases:
            found = check_outputs(w, dirs[tag], os.path.join(dirs["out"], tag),
                                  os.path.join(dirs["out"], "oracle_sql.json"))
            for name, err in found.items():
                if err and name not in {o["name"] for o in ops}:
                    errors.append(f"{tag}/{name}: {err}")  # set-up output, counted once
                    failed += 1
            for o in ops:
                attempted += 1
                err = o["error"] or found.get(o["name"])
                if err:
                    failed += 1
                    errors.append(f"{tag}/{o['name']}: {err}")
        for e in errors:
            print(f"FAILED {e}", file=sys.stderr)
        print(f"perfbench: inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
              f"checks {time.time() - t2:.1f} s", file=sys.stderr)

        times = [o["seconds"] for o in res["ops"]]
        wall = res["wall_s"]
        if a.trace:
            tr = res["trace"]
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            with open(os.path.join(BUILD, "trace", f"{w}-c{cores}-s{a.seed}.json"), "w") as f:
                json.dump({"workload": w, "cores": cores, "seed": a.seed,
                           "self_s": tr["self_s"], "detail": tr["detail"],
                           "unattributed_jobs": tr["unattributed_jobs"]}, f, indent=1)
            found = tr["metrics"]
        else:
            found = {"setup_s": res["setup_s"], "wall_s": wall,
                     "op_p50_s": statistics.median(times), "op_p75_s": p75(times),
                     "rows_per_s": input_rows(w, dirs["timed"]) / wall,
                     "heap_retained_mb": res["heap_retained_mb"]}
        out = {m["name"]: {"value": found[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
        print(f"workload {w} seed {a.seed} cores {cores} ops {len(times)} "
              f"(fixed per run; --seconds {a.seconds} is not used) "
              f"op_fail_ratio {failed / max(1, attempted):.4f} (failed {failed} of {attempted})")
        for k, v in out.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return failed


def main():
    # SIGTERM unwinds like an exception: the JVM is killed and the run
    # directory removed by the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classes = build()
    if a.workload != "all":
        # one workload exits 0 when it ran; its JSON line says whether
        # the outputs were correct
        run_workload(a.workload, a, spec, classes)
        return
    failed = [w for w in WORKLOADS if run_workload(w, a, spec, classes)]
    if failed:
        fail(f"output checks failed on {', '.join(failed)}", 1)


if __name__ == "__main__":
    main()

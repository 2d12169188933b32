#!/usr/bin/env python3
"""The repository benchmark: the LOINC -> i2b2 ETL chain and the
operator registry, end to end and per layer.

    python3 perfbench/run.py --workload etl_ref --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt into the checkout (`target/`, `perfbench/target/`,
`.bench_build/`); later runs reuse the build while the sources are
unchanged. Each run:

1. generates its inputs from `--seed` (untimed): for the ETL workloads
   the two LOINC zips, for `registry` the ten parquet tables;
2. starts one JVM on `local[nproc]` (the harness, graft.perfbench) that
   sets up Spark and Derby, runs one cold operation, then warm ones for
   `--seconds`, and with `--trace 1` one traced operation more;
3. checks every operation against the DuckDB oracle (row counts and an
   order-insensitive digest of the exported CSV for the ETL runs, one
   count per query for the registry passes);
4. prints each metric by name with its unit, then one JSON line:
   end-to-end metrics with `--trace 0`, per-layer ones with `--trace 1`.

Workloads, metrics and bounds are declared in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

# ETL input size: rows of the generated `part` table; each becomes one
# LOINC code (plus 1-2 hierarchy rows), the i2b2 output has one row per
# code.
ETL_PARTS = 20_000
# Registry input: all ten tables at this fixture scale factor (2,000
# parts, 60,000 line items). The slice of the registry one pass runs,
# and the warm-up and measured operation counts, are constants of the
# harness (Harness.scala).
REGISTRY_SCALE = 0.01
# Runnable but not in BENCHMARK.json: the ETL chain with the
# spec-correct C_FULLNAME (`--spec-fullname`); the self-test covers it.
EXTRA_WORKLOADS = ["etl_spec"]
RUN_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
I2B2_COLS = [
    "C_HLEVEL", "C_FULLNAME", "C_NAME", "C_SYNONYM_CD", "C_VISUALATTRIBUTES",
    "C_TOTALNUM", "C_BASECODE", "C_METADATAXML", "C_FACTTABLECOLUMN",
    "C_TABLENAME", "C_COLUMNNAME", "C_COLUMNDATATYPE", "C_OPERATOR",
    "C_DIMCODE", "C_COMMENT", "C_TOOLTIP", "M_APPLIED_PATH", "UPDATE_DATE",
    "DOWNLOAD_DATE", "IMPORT_DATE", "SOURCESYSTEM_CD", "VALUETYPE_CD",
    "M_EXCLUSION_CD", "C_PATH", "C_SYMBOL"]
RUN_TS_COLS = {"UPDATE_DATE", "DOWNLOAD_DATE", "IMPORT_DATE"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    """Fingerprint of every input of the build: sizes and mtimes."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", ROOT / "build.sbt",
             HERE / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*")
                                               if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}"
                     .encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep sbt's scratch files (temp dir, JNA, no server socket, no JVM
    # perf data) inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return env


def ensure_build():
    """Compile the program and the harness; return the JVM classpath."""
    if not (ROOT / "build.sbt").is_file() or not (
            ROOT / "src/main/scala/graft/pipeline/EtlMain.scala").is_file():
        fail("program sources not found next to perfbench/ "
             "(run from a checkout of the repository)")
    BUILD.mkdir(exist_ok=True)
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    stamp = source_stamp()
    if (stamp_file.is_file() and cp_file.is_file()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    log("building program and harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    sql = BUILD / "oracle_sql.json"
    q = subprocess.run(java_cmd(cp, BUILD) + ["dump-sql", str(sql)],
                       cwd=BUILD, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    if q.returncode != 0:
        sys.stderr.write(q.stdout[-4000:])
        fail("harness dump-sql failed")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work, xmx="3g"):
    java = "java"
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    opens = [x for p in OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # the heap is pre-sized (-Xms = -Xmx): left to grow, G1 sizes it by
    # its GC pacing, and both the times and the RSS then vary with that
    return [java, *opens, f"-Xms{xmx}", f"-Xmx{xmx}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-cp", cp,
            "graft.perfbench.Harness"]


# ----------------------------------------------------------------- inputs

def write_csv(con, sql, path):
    con.sql(sql).write_csv(str(path), header=True)


def make_zip(csv_path, zip_path, entry):
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        info = zipfile.ZipInfo(entry, date_time=(2026, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, csv_path.read_bytes())


def etl_inputs(inputs, seed, parts, sql):
    """Seeded `part` -> the LoincShim views -> Loinc.csv and
    MultiAxialHierarchy.csv (hierarchy rows in `seq` file order), each
    zipped as the loinc.org downloads are."""
    gen.write_part(inputs, seed, parts)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW part AS SELECT * FROM '{inputs}/part.parquet'")
    ctes = sql["loinc_ctes"]
    write_csv(con, ctes + "SELECT * FROM loinc ORDER BY LOINC_NUM",
              inputs / "Loinc.csv")
    write_csv(con, ctes + "SELECT CODE, CODE_TEXT, PATH_TO_ROOT, "
              "IMMEDIATE_PARENT FROM hier ORDER BY seq, CODE",
              inputs / "MultiAxialHierarchy.csv")
    make_zip(inputs / "Loinc.csv", inputs / "loinc.zip", "Loinc.csv")
    make_zip(inputs / "MultiAxialHierarchy.csv", inputs / "hierarchy.zip",
             "MultiAxialHierarchy.csv")
    con.close()


def digest_sql(rel):
    """Row count and order-insensitive digest of an i2b2 relation: the
    sum of per-row hashes over every column but the run timestamps."""
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in I2B2_COLS
                     if c not in RUN_TS_COLS)
    return (f"SELECT count(*), sum(CAST(hash({cols}) AS HUGEINT)) "
            f"FROM ({rel})")


def etl_oracle(inputs, sql, bug_compat):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW part AS SELECT * FROM '{inputs}/part.parquet'")
    body = sql["i2b2_bugcompat_sql" if bug_compat else "i2b2_sql"]
    n, h = con.sql(digest_sql(body)).fetchone()
    loinc_rows = con.sql(sql["loinc_ctes"] + "SELECT count(*) FROM loinc"
                         ).fetchone()[0]
    con.close()
    return {"rows": n, "digest": h, "loinc_rows": loinc_rows}


def csv_digest(csv_dir, drop_row=False):
    """Digest of one run's L5 export, read back as text; the run
    timestamps must be one value per column and are left out."""
    con = duckdb.connect()
    rel = (f"SELECT * FROM read_csv('{csv_dir}/part-*.csv', header=true, "
           f"all_varchar=true, delim=',', quote='\"', escape='\\')")
    if drop_row:  # self-test fault: one row lost from the checked output
        rel += " LIMIT (SELECT count(*) - 1 FROM read_csv('" + \
            f"{csv_dir}/part-*.csv', header=true, all_varchar=true))"
    con.sql(f"CREATE TEMP TABLE export AS {rel}")
    ts_ok = con.sql("SELECT " + " AND ".join(
        f"count(DISTINCT {c}) = 1 AND count({c}) = count(*)"
        for c in sorted(RUN_TS_COLS)) + " FROM export").fetchone()[0]
    n, h = con.sql(digest_sql("SELECT * FROM export")).fetchone()
    con.close()
    return n, h, ts_ok


def registry_oracle(inputs, sql, names):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    out = {}
    for n in names:
        q = sql["queries"].get(n)
        if q is None:
            out[n] = None
            continue
        try:
            out[n] = con.sql(f"SELECT count(*) FROM ({q})").fetchone()[0]
        except Exception as e:  # reported as a mismatch by name
            out[n] = f"oracle error: {str(e).splitlines()[0][:160]}"
    con.close()
    return out


# ------------------------------------------------------------------- main

def load_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine: steal is time the
    hypervisor gave this machine's CPUs to someone else, the mark of a
    noisy host rather than a slower program."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0


def run_harness(cp, args, work, inputs):
    out = work / "result.json"
    cmd = java_cmd(cp, work) + [
        args.workload, "--inputs", str(inputs), "--work", str(work),
        "--out", str(out), "--seconds", str(args.seconds),
        "--trace", str(args.trace)]
    logf = open(work / "harness.log", "w")
    launch = time.time()
    busy0, steal0 = cpu_ticks()
    proc = subprocess.Popen(cmd, cwd=work, stdout=logf,
                            stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness timed out", 3)
    finally:
        logf.close()
    if rc != 0 or not out.is_file():
        sys.stderr.write((work / "harness.log").read_text()[-4000:])
        fail(f"harness exited with {rc}", 3)
    busy1, steal1 = cpu_ticks()
    res = json.loads(out.read_text())
    res["setup_s"] = res["ready_epoch_s"] - launch
    res["steal_ratio"] = (steal1 - steal0) / max(
        1, busy1 - busy0 + steal1 - steal0)
    return res


def check_etl(res, oracle, fault):
    ops = res["body"]["ops"]
    failures = []
    for k, op in enumerate(ops):
        tag = f"{op['kind']}#{op['i']}"
        if op["error"]:
            failures.append(f"{tag}: {op['error']}")
            continue
        if not op["rows_written"] == op["verified"] == oracle["rows"]:
            failures.append(
                f"{tag}: rows written {op['rows_written']}, verified "
                f"{op['verified']}, oracle {oracle['rows']}")
            continue
        n, h, ts_ok = csv_digest(op["csv"], drop_row=fault and k == 1)
        if n != oracle["rows"] or h != oracle["digest"] or not ts_ok:
            failures.append(f"{tag}: CSV export digest differs from the "
                            f"oracle ({n} rows vs {oracle['rows']})")
        shutil.rmtree(op["csv"], ignore_errors=True)
    return len(ops), failures


def check_registry(res, oracle, fault):
    failures = []
    attempted = 0
    for p, ps in enumerate(res["body"]["passes"]):
        for s in ps["stages"]:
            attempted += 1
            if s["error"]:
                failures.append(f"pass {p} stage {s['name']}: {s['error']}")
        for k, q in enumerate(ps["queries"]):
            attempted += 1
            want = oracle.get(q["name"])
            got = q["count"] + (1 if fault and p == 1 and k == 0 else 0)
            if q["error"]:
                failures.append(f"pass {p} {q['name']}: {q['error']}")
            elif want != got:
                failures.append(f"pass {p} {q['name']}: count {got}, "
                                f"oracle {want}")
    return attempted, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input sizes for the self-test's tiny runs and the record's
    # reference-scale run; the benchmark proper runs with the defaults
    ap.add_argument("--parts", type=int, default=ETL_PARTS)
    ap.add_argument("--scale", type=float, default=REGISTRY_SCALE)
    ap.add_argument("--fault", action="store_true",
                    help="drop one checked row / count (self-test)")
    args = ap.parse_args()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; one of {names}")
    cp = ensure_build()
    sql = json.loads((BUILD / "oracle_sql.json").read_text())

    work = BUILD / "runs" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "inputs"
    for d in (inputs, work / "tmp"):
        d.mkdir(parents=True)

    t0 = time.time()
    if args.workload == "registry":
        gen.write_tables(inputs, args.seed, args.scale)
    else:
        etl_inputs(inputs, args.seed, args.parts, sql)
    gen_s = time.time() - t0

    res = run_harness(cp, args, work, inputs)

    t0 = time.time()
    body = res["body"]
    if args.workload == "registry":
        oracle = registry_oracle(
            inputs, sql, [q["name"] for q in body["passes"][0]["queries"]])
        attempted, failures = check_registry(res, oracle, args.fault)
        warm = [p for p in body["passes"] if p["kind"] == "warm"]
        cold = [p for p in body["passes"] if p["kind"] == "cold"][0]
        run_s = statistics.median(p["wall_s"] for p in warm)
        rows = statistics.median(
            sum(max(q["count"], 0) for q in p["queries"]) for p in warm)
        aliases = {"registry_s": run_s, "registry_cold_s": cold["wall_s"]}
    else:
        oracle = etl_oracle(inputs, sql, args.workload == "etl_ref")
        attempted, failures = check_etl(res, oracle, args.fault)
        warm = [o for o in body["ops"] if o["kind"] == "warm"]
        cold = [o for o in body["ops"] if o["kind"] == "cold"][0]
        run_s = statistics.median(o["wall_s"] for o in warm)
        rows = oracle["rows"]
        aliases = {"etl_s": run_s, "etl_cold_s": cold["wall_s"],
                   "etl_rows_per_s": rows / run_s}
    check_s = time.time() - t0

    e2e = {"run_s": run_s, "rows_per_s": rows / run_s,
           "setup_s": res["setup_s"],
           "peak_rss_mb": res["peak_rss_mb"],
           "peak_cache_mb": body["peak_cache_mb"]}
    layers = dict(body.get("layers") or {}, **{
        "jvm.cold_run_s": cold["wall_s"], "host.steal_ratio": res["steal_ratio"]})
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = e2e[m["name"]] if kind == "end_to_end" else \
            layers.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} = {v} {m['unit']}")
    walls = sorted(o["wall_s"] for o in warm)
    print(f"run_s: median of n={len(walls)} measured warm operations; "
          f"max {walls[-1]} s (no tail percentile below n=11)")
    for k, v in aliases.items():
        print(f"{k} = {v} {'rows/s' if k.endswith('per_s') else 's'}")
    print(f"fail_ratio = {len(failures) / max(attempted, 1)} ratio "
          f"({len(failures)} of {attempted})")
    print(f"host_steal = {res['steal_ratio']:.4f} ratio; "
          f"warm_ops = {len(warm)} count; gen_s = {gen_s:.3f} s; "
          f"check_s = {check_s:.3f} s")
    if args.trace:
        print(f"call_sites = {layers.get('trace.call_sites')}")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()

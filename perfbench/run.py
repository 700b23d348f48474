#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the library's
sources and the benchmark's into the build directory (`$CARGO_TARGET_DIR`,
default `.bench_build`), with a class-data-sharing archive from one short
training run; later runs reuse both while the Scala sources are unchanged.
Each run generates its inputs (`inputs.py`), starts one JVM for the workload
(see `src/Main.scala`),
checks the answers it recorded against answers computed here, apart from the
program (DuckDB over the same generated Parquet files), and prints one JSON
object:

    {"correct": true, "attempted": N, "failed": F, "metrics": {name: {"value": v, "unit": u}}}

With `--trace 0` the metrics are BENCHMARK.json's `end_to_end` ones, with
`--trace 1` its `per_layer` ones. Exits non-zero without a result when the
library's sources or the Spark jars are missing or the JVM fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170  # a run must end within 180 s
HEAP = "3g"
# Share of the reference's size (100k orders, 1M geolocation rows) that
# olist_daily generates, and the post-cutoff days it stages.
OLIST_SCALE = 0.05
STAGED_DAYS = 120
# Times are reported at this host speed: one calibration round
# (src/Calibration.scala) taking this long in wall and in CPU time.
REF_ROUND_MS = 5.0
RAW = ("setup_s", "op_p50_ms", "ops_per_s", "cpu_ms_per_op")  # the figures scaled
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the project's build declares (build.sbt's
    `unmanagedBase`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.isfile(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "spark-sql_*.jar")) or \
            not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        fail("no Spark jar directory (build.sbt's unmanagedBase)")
    return m.group(1)


def build(jars):
    """Compiles the library and the benchmark once per source state into a
    jar, then makes a class-data-sharing archive from one short training
    run, so each workload JVM maps the classes instead of loading them."""
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not lib:
        fail("no library sources under src/main/scala")
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench", h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    if os.path.isfile(os.path.join(out, "ok")):
        return jar, archive
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)  # builds of other sources
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes] + lib + bench,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    train = tempfile.mkdtemp(dir=out)
    args = argparse.Namespace(workload="retrieval_serving", seed=0, seconds=1, trace=0)
    try:
        run_jvm(jars, (jar, archive), args, make_inputs(args, train)[0], train, dump=True)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    open(os.path.join(out, "ok"), "w").close()
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar, archive


def make_inputs(args, work):
    """Generates the workload's inputs under `work/input`; returns the
    directory and the seconds it took."""
    d = os.path.join(work, "input")
    t0 = time.perf_counter()
    if args.workload == "retrieval_serving":
        queries = inputs.write_corpus(args.seed, os.path.join(d, "src"))
        with open(os.path.join(d, "queries.txt"), "w") as f:
            f.writelines(q + "\n" for q in queries)
    else:
        inputs.write_olist(args.seed, OLIST_SCALE, os.path.join(d, "src"),
                           os.path.join(d, "stage"), STAGED_DAYS)
    return d, time.perf_counter() - t0


def run_jvm(jars, build_out, args, inp, work, dump=False):
    """Runs the workload JVM; with `dump`, records its classes in the
    archive instead of mapping them from it."""
    jar, archive = build_out
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cds = f"-XX:ArchiveClassesAtExit={archive}" if dump else f"-XX:SharedArchiveFile={archive}"
    # C1 only: a run is too short for C2 to settle, and on 4 cores its
    # compile threads took about 40% of the loop's CPU, varying run to run.
    # C1 alone gets a 48 MB code cache by default; an olist_daily run fills
    # it by its third op, and flushing it slowed that op by about 40%.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", cds, "-Xlog:cds=off",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              args.workload, str(args.seconds), str(args.trace), inp, work, out])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=DEADLINE_S - (0 if dump else time.time() - START))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    with open(log) as f:
        text = f.read()
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(text[-6000:])
        fail(f"workload JVM failed ({rc})")
    sys.stderr.writelines(l for l in text.splitlines(True) if l.startswith("perfbench "))
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def duck(src_dir, files="*"):
    """DuckDB over the source tables, each read from its `files` under
    `src_dir/<table>/`: `part-0` the files the build read, `*` with the
    landed days."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in ("orders", "order_items", "products", "category", "sellers",
              "geolocation", "leads", "closed_deals"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{src_dir}/{t}/{files}.parquet', union_by_name=true)")
    return con


NORM = "lower(trim({}))"


def olist_answers(con, year):
    """The paper's three questions answered from the source files: top-5
    sellers by units and by revenue in `year`, fastest conversions pooled
    (OLTP shape) and at the conversions fact's grain (star shape)."""
    live = (f"SELECT order_id FROM orders WHERE {NORM.format('order_status')} <> 'canceled' "
            f"AND year(order_purchase_timestamp) = {year}")
    units = con.execute(f"""
        SELECT i.seller_id, s.seller_state, count(c.product_category_name_english) AS n
        FROM order_items i JOIN ({live}) o USING (order_id)
        JOIN products p ON p.product_id = i.product_id
        JOIN category c ON {NORM.format('p.product_category_name')} = {NORM.format('c.product_category_name')}
        JOIN sellers s ON s.seller_id = i.seller_id
        GROUP BY 1, 2 ORDER BY n DESC, 1 ASC LIMIT 5""").fetchall()
    revenue = con.execute(f"""
        SELECT i.seller_id, s.seller_state,
               round(CAST(sum(CAST(i.price AS DECIMAL(18, 2))) AS DOUBLE), 2) AS r
        FROM order_items i JOIN ({live}) o USING (order_id)
        JOIN sellers s ON s.seller_id = i.seller_id
        GROUP BY 1, 2 ORDER BY r DESC, 1 ASC LIMIT 5""").fetchall()
    base = """
        SELECT l.origin, d.won_date, d.lead_type, d.business_type, d.business_segment,
               date_diff('hour', date_trunc('hour', l.first_contact_date),
                         date_trunc('hour', d.won_date)) AS hrs
        FROM leads l JOIN closed_deals d USING (mql_id)
        JOIN (SELECT seller_id FROM sellers) s USING (seller_id)
        JOIN (SELECT seller_id FROM order_items) i USING (seller_id)
        WHERE l.origin IS NOT NULL"""
    avg = "CAST(trunc(CAST(sum(hrs) AS DOUBLE) / count(hrs)) AS BIGINT)"
    conv_oltp = con.execute(f"""
        SELECT origin, year(won_date) AS y, {avg} AS a FROM ({base}) GROUP BY 1, 2
        HAVING a >= 1 ORDER BY a, 1, 2 LIMIT 5""").fetchall()
    conv_dw = con.execute(f"""
        WITH grain AS (
          SELECT origin, CAST(won_date AS DATE) AS dt, lead_type, business_type,
                 {NORM.format('business_segment')} AS seg, {avg} AS a
          FROM ({base})
          WHERE lead_type IS NOT NULL AND business_type IS NOT NULL
            AND business_segment IS NOT NULL
            AND CAST(won_date AS DATE) BETWEEN DATE '2016-09-01' AND DATE '2019-12-31'
          GROUP BY ALL)
        SELECT origin, year(dt) AS y, min(a) AS a FROM grain WHERE a >= 1
        GROUP BY 1, 2 ORDER BY a, 1, 2 LIMIT 5""").fetchall()
    return {"units": units, "revenue": revenue, "conv_oltp": conv_oltp, "conv_dw": conv_dw}


def rows_equal(got, want):
    def norm(r):
        return tuple(round(float(x), 2) if isinstance(x, (int, float)) else x for x in r)
    return [norm(r) for r in got] == [norm(r) for r in want]


def check_reports(res, inp):
    c = res["checks"]
    want = olist_answers(duck(os.path.join(inp, "src"), "part-0"), c["year"])
    expect = {"units_oltp": want["units"], "units_dw": want["units"],
              "units_dw_pruned": want["units"], "revenue_oltp": want["revenue"],
              "revenue_dw": want["revenue"], "conv_oltp": want["conv_oltp"],
              "conv_dw": want["conv_dw"]}
    failed = set()
    for op, answers in c["rounds"]:
        got = dict(zip(c["reports"], answers))
        # each answer equals the independent one, so the OLTP and star
        # answers to the units and revenue questions also equal each other
        if any(not rows_equal(got[k], v) for k, v in expect.items()) or \
                len(want["units"]) != 5 or len(want["revenue"]) != 5:
            failed.add(op)
    return failed


def check_etl(res, inp):
    c = res["checks"]
    con = duck(os.path.join(inp, "src"))
    last = c["last_day"]
    con.execute(f"""
        CREATE TABLE want AS
        WITH o AS (
          SELECT order_id, order_purchase_timestamp AS ts FROM orders
          WHERE {NORM.format('order_status')} <> 'canceled'
            AND order_purchase_timestamp >= TIMESTAMP '{c['first_day']}'
            AND order_purchase_timestamp < TIMESTAMP '{c['first_day']}' + INTERVAL {last + 1} DAY),
        loc AS (
          SELECT DISTINCT geolocation_zip_code_prefix AS zip,
                 {NORM.format('geolocation_city')} AS city, {NORM.format('geolocation_state')} AS state
          FROM geolocation),
        pdim AS (
          SELECT DISTINCT product_category_name_english AS product FROM category
          WHERE product_category_name_english IS NOT NULL
            AND {NORM.format('product_category_name_english')} <> 'product_category_name_english')
        SELECT CAST(strftime(o.ts, '%Y%m%d') AS INTEGER) AS date_key, i.seller_id, pd.product,
               l.zip, l.city, l.state,
               CAST(sum(CAST(i.price AS DECIMAL(18, 2))) AS DOUBLE) AS sales_total,
               count(i.product_id) AS units_sold
        FROM order_items i JOIN o USING (order_id)
        JOIN products p ON p.product_id = i.product_id
        JOIN category c ON {NORM.format('p.product_category_name')} = {NORM.format('c.product_category_name')}
        JOIN pdim pd ON {NORM.format('c.product_category_name_english')} = {NORM.format('pd.product')}
        JOIN sellers s ON s.seller_id = i.seller_id
        JOIN loc l ON s.seller_zip_code_prefix = l.zip AND {NORM.format('s.seller_city')} = l.city
        GROUP BY ALL""")
    con.execute(f"CREATE TABLE got AS SELECT * FROM read_parquet('{c['fact_dir']}/*.parquet')")
    cols = "date_key, seller_id, product, zip, city, state, round(sales_total, 2), units_sold"
    bad_days = {r[0] for r in con.execute(f"""
        (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)
        UNION ALL (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)""").fetchall()}
    days = [int(r[0]) for r in con.execute(
        "SELECT DISTINCT date_key FROM want ORDER BY 1").fetchall()]
    first, n = res["first_op"], res["attempted"]
    timed = range(first, first + n)
    failed = set()
    if len(days) != last + 1:  # every day from 0 to the last has rows
        failed.update(timed)
    for d, key in enumerate(days):
        if key in bad_days:  # day d was appended by op d-1 and re-delivered by op d
            failed.update(op for op in (d - 1, d) if op in timed)
    if c["rerun_rows"] != 0:
        failed.add(first + n - 1)
    before, after = c["untouched_before"], c["untouched_after"]
    if not before or before != after:
        failed.update(timed)
    return failed


def check_serving(res, inp):
    import duckdb
    c = res["checks"]
    with open(os.path.join(inp, "queries.txt")) as f:
        queries = f.read().splitlines()
    docs = {r[0]: (r[1].lower().split(), r[2]) for r in duckdb.connect().execute(
        f"SELECT doc_id, text, lang FROM read_parquet('{inp}/src/documents/*.parquet')").fetchall()}
    failed = set()
    for op, answers in c["rounds"]:
        terms = set(queries[op % len(queries)].split())
        ok = True
        for lane, hits in zip(c["lanes"], answers):
            # (doc_id, dl, score): ten hits, each holding a query term and
            # its document's length, with scores that do not increase
            ok &= len(hits) == 10
            ok &= all(terms & set(docs[d][0]) and dl == len(docs[d][0]) for d, dl, _ in hits)
            ok &= all(hits[j][2] >= hits[j + 1][2] for j in range(len(hits) - 1))
            if lane == "bm25_filtered":
                ok &= all(docs[d][1] == "en" for d, _, _ in hits)
        if not ok:
            failed.add(op)
    return failed


def check_daily(res, inp):
    return check_reports(res, inp) | check_etl(res, inp)


CHECKS = {"olist_daily": check_daily, "retrieval_serving": check_serving}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found in the working directory")
    spec = json.load(open(spec_path))
    jars = spark_jars()
    build_out = build(jars)
    global START
    START = time.time()
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "runs")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        inp, input_s = make_inputs(args, work)
        res = run_jvm(jars, build_out, args, inp, work)
        failed = CHECKS[args.workload](res, inp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e = dict(res["end_to_end"])
    # Every time is scaled to the reference host speed by the run's
    # calibration medians: wall times by the round's wall time, CPU times
    # by its CPU time. On a shared host the speed moves two- to threefold
    # between minutes; the scaled times move with the program.
    cal_wall, cal_cpu = e2e.pop("calibration_wall_ms"), e2e.pop("calibration_cpu_ms")
    wall_scale, cpu_scale = REF_ROUND_MS / cal_wall, REF_ROUND_MS / cal_cpu
    # set-up is everything before the first op: inputs, JVM start to
    # ready, and the build the ops serve from
    e2e["setup_s"] = e2e.pop("ready_s") + e2e.pop("build_s") + input_s
    print(f"perfbench: calibration round {cal_wall:.3f} ms wall, {cal_cpu:.3f} ms CPU; "
          "as measured: " + json.dumps({k: e2e[k] for k in RAW}), file=sys.stderr)
    e2e["setup_s"] *= wall_scale
    e2e["op_p50_ms"] *= wall_scale
    e2e["ops_per_s"] /= wall_scale
    e2e["cpu_ms_per_op"] *= cpu_scale
    attempted = res["attempted"]
    failed_n = len(failed | set(res["failed_ops"]))
    if args.trace:
        wanted, values = spec["per_layer"], res["layers"]
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if args.trace:
                v = 0.0  # a layer this workload does not exercise did no work
            else:
                fail(f"end-to-end metric {m['name']} missing")
        if args.trace and m["unit"] == "ms":  # layer times, scaled as above
            v *= cpu_scale if "cpu" in m["name"] else wall_scale
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    print(json.dumps({"correct": attempted >= 1, "attempted": attempted,
                      "failed": failed_n, "metrics": metrics}))


START = time.time()

if __name__ == "__main__":
    main()

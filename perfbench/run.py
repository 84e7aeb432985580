#!/usr/bin/env python3
"""Benchmark driver: builds the engine and the benchmark from source,
runs one workload in one JVM, checks the answers and prints one JSON
line of results.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 16 --trace 0

Run from the repository root. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that
ships in Spark's jar directory ($SPARK_HOME/jars, or the installation
that holds `spark-submit` on PATH),
into $CARGO_TARGET_DIR (default .bench_build) inside the checkout; a
build is reused while the sources are unchanged. Every file a run
writes (lakes, checkpoints, Spark scratch, spans) lives in a run
directory under the build directory and is removed at exit.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_scala(jars, classpath, srcs, out):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compilation failed:\n" + r.stdout[-4000:])


def build(build_dir, jars):
    """Compile engine and benchmark once per source digest."""
    engine = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    if not engine:
        fail("no engine sources under src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "OK")):
        for old in os.listdir(build_dir) if os.path.isdir(build_dir) else []:
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
        compile_scala(jars, None, engine, os.path.join(out, "engine"))
        compile_scala(jars, os.path.join(out, "engine"), bench, os.path.join(out, "bench"))
        open(os.path.join(out, "OK"), "w").close()
    return [os.path.join(out, "engine"), os.path.join(out, "bench")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first installation on PATH
    whose bin/ holds spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark installation: set SPARK_HOME")


# ---------------------------------------------------------------- oracle

def ts(start_us, second):
    return f"make_timestamp({start_us + second * 1000000}::BIGINT)"


def r2(x):
    return f"floor({x} * 100 + 0.5) / 100.0"


def grid_sql(src, step):
    """The flagship (TimeSeries.interpolateOnGrid + per-instant
    re-aggregation) over relation `src` (k, t, v, s), grid per k."""
    return f"""
    unioned AS (
      SELECT k, t, v, s, 0 AS is_grid FROM {src}
      UNION ALL
      SELECT k, unnest(generate_series(tmin, tmax, INTERVAL {step})), NULL, NULL, 1
        FROM (SELECT k, min(t) AS tmin, max(t) AS tmax FROM {src} GROUP BY k)
    ), win AS (
      SELECT k, t, is_grid,
        last_value(v IGNORE NULLS) OVER pw AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER pw AS pt,
        first_value(v IGNORE NULLS) OVER nw AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER nw AS nt,
        last_value(s IGNORE NULLS) OVER pw AS locf
      FROM unioned
      WINDOW pw AS (PARTITION BY k ORDER BY t, is_grid, v ASC NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             nw AS (PARTITION BY k ORDER BY t, is_grid, v ASC NULLS FIRST
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), gridded AS (
      SELECT k, t AS time,
        CASE WHEN pt = nt THEN pv WHEN nt IS NULL THEN pv WHEN pt IS NULL THEN nv
             ELSE pv + (nv - pv) * (epoch_us(t) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt))
        END AS temperature,
        locf AS status
      FROM win WHERE is_grid = 1
    ), flag AS (
      SELECT k, time, min(status) AS status, {r2('avg(temperature)')} AS temperature
      FROM gridded GROUP BY k, time
    )"""


def oracle(c):
    """(oracle SQL, answer projection) for one dashboard query."""
    lo, hi = ts(c["start_us"], c["lo"]), ts(c["start_us"], c["hi"])
    subset = ", ".join("'" + s + "'" for s in c["sensors"])
    win = f"time >= {lo} AND time < {hi}"
    w_all = f"(SELECT * FROM feed WHERE {win})"
    w_sub = f"(SELECT * FROM feed WHERE {win} AND sensor_id IN ({subset}))"
    binned = "make_timestamp((epoch_us(time) // {us}) * {us})"
    cls = c["class"]
    if cls == "flagship":
        return (f"WITH obs AS (SELECT sensor_id AS k, time AS t, temperature AS v, status AS s "
                f"FROM {w_sub}), {grid_sql('obs', '1 SECOND')} "
                f"SELECT k AS sensor_id, time, status, temperature FROM flag",
                "sensor_id, time, status, temperature")
    if cls == "enrich_join":
        return (f"WITH obs AS (SELECT sensor_id AS k, time AS t, temperature AS v, status AS s "
                f"FROM {w_all}), {grid_sql('obs', '60 SECOND')} "
                f"SELECT k AS sensor_id, time, temperature, status, "
                f"'C' || (CAST(substr(k, 8) AS INTEGER) % 5) AS customer_id FROM flag",
                "sensor_id, time, temperature, status, customer_id")
    if cls == "hot_read":
        return (f"WITH obs AS (SELECT sensor_id AS k, time AS t, temperature AS v, status AS s "
                f"FROM {w_sub}), {grid_sql('obs', '60 SECOND')} "
                f"SELECT k AS sensor_id, time, temperature, status FROM flag",
                "sensor_id, time, temperature, status")
    if cls == "bin_max":
        return (f"SELECT sensor_id, {binned.format(us=60000000)} AS time_bin, "
                f"max(temperature) AS max_value, count(*) AS n FROM {w_all} GROUP BY ALL",
                "sensor_id, time_bin, max_value, n")
    if cls == "percentile":
        return (f"SELECT {binned.format(us=60000000)} AS time_bin, {r2('avg(temperature)')} AS avg_value, "
                f"{r2('quantile_disc(temperature, 0.9)')} AS p90, "
                f"{r2('quantile_disc(temperature, 0.75)')} AS p75 FROM {w_all} GROUP BY ALL",
                "time_bin, avg_value, p90, p75")
    if cls == "ohlc":
        return (f"SELECT sensor_id, {binned.format(us=60000000)} AS bin_ts, "
                f"{r2('arg_min(temperature, time)')} AS open, {r2('max(temperature)')} AS high, "
                f"{r2('min(temperature)')} AS low, {r2('arg_max(temperature, time)')} AS close, "
                f"count(*) AS n_obs FROM {w_sub} GROUP BY ALL",
                "sensor_id, bin_ts, open, high, low, close, n_obs")
    if cls == "gaps":
        b = binned.format(us=5000000)
        return (f"WITH o AS (SELECT DISTINCT sensor_id, {b} AS g FROM {w_sub}), "
                f"r AS (SELECT sensor_id, min(g) AS lo, max(g) AS hi FROM o GROUP BY sensor_id), "
                f"grid AS (SELECT sensor_id, unnest(generate_series(lo, hi, INTERVAL 5 SECOND)) AS g FROM r) "
                f"SELECT sensor_id, g AS gap_start FROM (SELECT * FROM grid EXCEPT SELECT * FROM o)",
                "sensor_id, gap_start")
    if cls == "cep_batch":
        return (f"""WITH base AS (
          SELECT sensor_id AS k, time AS t, temperature AS v, status AS s,
                 row_number() OVER (PARTITION BY sensor_id ORDER BY time) AS rn,
                 sum(CASE WHEN status = 'ERROR' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY sensor_id ORDER BY time
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
          FROM {w_sub}
        ), epochstats AS (
          SELECT *,
            min(CASE WHEN s IS DISTINCT FROM 'ERROR' THEN v END) OVER (PARTITION BY k, epoch) AS b_min,
            max(CASE WHEN s IS DISTINCT FROM 'ERROR' THEN v END) OVER (PARTITION BY k, epoch) AS b_max,
            sum(CASE WHEN s IS DISTINCT FROM 'ERROR' THEN CAST(v AS DECIMAL(18,2)) END)
              OVER (PARTITION BY k, epoch) AS b_sum,
            list(s) OVER (PARTITION BY k, epoch ORDER BY rn ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS b_hist
          FROM base
        ), errs AS (
          SELECT k, t, v, rn, epoch, b_min, b_max, b_sum, b_hist,
                 lead(rn) OVER w AS c_rn, lead(t) OVER w AS c_t, lead(v) OVER w AS c_v
          FROM epochstats WHERE s = 'ERROR'
          WINDOW w AS (PARTITION BY k ORDER BY rn)
        ), cands AS (
          SELECT *, epoch - row_number() OVER (PARTITION BY k ORDER BY epoch) AS grp
          FROM errs
          WHERE c_rn IS NOT NULL AND c_rn - rn - 1 BETWEEN 1 AND 5
            AND epoch_us(c_t) - epoch_us(t) <= 60000000
        ), matches AS (
          SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY k, grp ORDER BY epoch) AS pos
                         FROM cands) WHERE pos % 2 = 1
        )
        SELECT k AS sensor_id, t AS event_time, c_rn - rn - 1 AS non_errors,
               array_to_string(b_hist, '-') AS history,
               least(v, c_v, b_min) AS min_temperature,
               floor((CAST(CAST(v AS DECIMAL(18,2)) + CAST(c_v AS DECIMAL(18,2)) + b_sum AS DOUBLE)
                      / (c_rn - rn + 1)) * 100 + 0.5) / 100.0 AS avg_temperature,
               greatest(v, c_v, b_max) AS max_temperature,
               CAST(floor((epoch_us(c_t) - epoch_us(t)) / 1000000.0 + 0.5) AS BIGINT) AS elapsed
        FROM matches""",
                "sensor_id, event_time, non_errors, history, min_temperature, avg_temperature, "
                "max_temperature, elapsed")
    if cls == "range_read":
        return (f"SELECT sensor_id, time, status, temperature FROM {w_all} WHERE temperature > 160",
                "sensor_id, time, status, measure_value")
    if cls == "point_read":
        return (f"SELECT sensor_id, time, status, temperature FROM feed WHERE sensor_id = '{c['key']}'",
                "sensor_id, time, status, measure_value")
    raise ValueError(cls)


def normalise(rows):
    return collections.Counter(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows)


def check_oracle(checks):
    """Each dashboard query class's first answer against DuckDB over the
    generated feed. Returns the number of failed checks."""
    if not checks:
        return 0
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    failed = 0
    for c in checks:
        try:
            con.execute(f"CREATE OR REPLACE VIEW feed AS SELECT * FROM read_parquet('{c['feed']}/*.parquet')")
            sql, cols = oracle(c)
            want = normalise(con.execute(sql).fetchall())
            got = normalise(con.execute(
                f"SELECT {cols} FROM read_parquet('{c['answer']}/*.parquet')").fetchall())
            if want != got or not want:
                failed += 1
                print(f"perfbench: oracle mismatch on {c['class']}: {sum(want.values())} expected rows, "
                      f"{sum(got.values())} answered, {sum((want - got).values())} missing, "
                      f"{sum((got - want).values())} extra", file=sys.stderr)
        except Exception as e:  # a check that cannot run counts as failed
            failed += 1
            print(f"perfbench: oracle check {c['class']} raised {e}", file=sys.stderr)
    return failed


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir, jars) + [os.path.join(jars, "*")]

    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), str(cores), work])
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        result_file = os.path.join(work, "result.json")
        if r.returncode != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "jvm.log")) as log:
                tail = log.read()[-6000:]
            fail(f"benchmark JVM exited with {r.returncode}:\n{tail}")
        with open(result_file) as f:
            res = json.load(f)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
        oracle_failed = check_oracle(res["oracle"])
        attempted = res["attempted"] + len(res["oracle"])
        failed = res["failed"] + oracle_failed
        metrics = {}
        for m in wanted:
            got = res["metrics"].get(m["name"])
            if got is None or got["value"] is None:
                fail(f"metric {m['name']} missing from the run")
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    except subprocess.TimeoutExpired:
        with open(os.path.join(work, "jvm.log")) as log:
            tail = log.read()[-6000:]
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s:\n{tail}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

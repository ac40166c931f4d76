#!/usr/bin/env python3
"""Benchmark of the shipped graft session.

    python3 perfbench/run.py --workload corpus_sweep --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from this checkout (once; the
build is reused while the sources are unchanged), generates the tables
(once per scale) and the seeded operations of the run, drives the
library from one client in a closed loop for --seconds seconds of
whole rounds, checks every output against an independent computation,
and prints one JSON object as the last line of standard output. With
--trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

# Scale factor, untimed warm-up rounds and timed rounds per workload
# (0: whole rounds until --seconds have passed). corpus_sweep times one
# round, so every operation it times is a first execution.
WORKLOADS = {
    "corpus_sweep": {"sf": "0.01", "warmup_rounds": 1, "timed_rounds": 1},
    "ingest_merge": {"sf": "0.01", "warmup_rounds": 1, "timed_rounds": 0},
    "pg_dialect": {"sf": "0.001", "warmup_rounds": 2, "timed_rounds": 0},
}
# Set-ups per run, the same on every workload: the first one in a fresh
# JVM is cold, so their median is a warm one.
SETUPS = 3
# corpus_sweep runs every CORPUS_STRIDE-th corpus entry and the three
# entries that read a fixture missing from the repository.
CORPUS_STRIDE = 20
KNOWN_FAILING = ["ref_verbatim_orderby_limit",
                 "ref_verbatim_window_distinct_on",
                 "ref_verbatim_quantified_all"]
HEAP = "3g"
JVM_TIMEOUT_S = 170
MB = 1048576.0

# The module-access flags Spark needs on JDK 17 outside spark-submit;
# the same list the root build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("ops_per_s", "ops/s"), ("op_gmean_ms", "ms"),
              ("retained_heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


# ---------------------------------------------------------------- build

def source_digest():
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build(bdir):
    digest = source_digest()
    stamp = os.path.join(bdir, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser(
                       "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ".jar" in ln
          and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip(), digest


def ensure_data(bdir, sf):
    import gen_data
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(bdir, "data", f"sf{sf}-{gen}")
    if not os.path.isfile(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.main(out, sf)
        open(os.path.join(out, "DONE"), "w").close()
    return out


# -------------------------------------------------------------- inputs

def lit_text(rng, n):
    """A PG string literal body of about n characters with '' escapes,
    and the string value it denotes."""
    words = ["graft", "citus", "shard", "it''s", "o''brien", "merge", "rows",
             "don''t", "colocated", "plan", "x1", "y22", "zz333"]
    parts, size = [], 0
    while size < n:
        w = rng.choice(words)
        parts.append(w)
        size += len(w) + 1
    sql = " ".join(parts)
    return sql, sql.replace("''", "'")


def pg_statement(rng, kind, length, events):
    """One PG-dialect statement of roughly `length` characters and the
    rows it must return, computed from the generated literals (and, for
    the events kind, from the generated events table)."""
    if kind == "cast_len":
        sql_lit, val = lit_text(rng, max(10, (length - 80) // 2))
        sql = (f"SELECT length('{sql_lit}')::int AS n, "
               f"upper(substr('{sql_lit}', 1, 6)) AS head")
        return sql, [[len(val), val[:6].upper()]]
    if kind == "regex":
        sql_lit, val = lit_text(rng, max(10, (length - 100) // 2))
        needle = rng.choice(["SHARD", "MERGE", "ZZ3", "NOPE", "O'BRIEN"])
        sql_needle = needle.replace("'", "''")
        sql = (f"SELECT '{sql_lit}' ~ '[0-9]' AS has_digit, "
               f"upper('{sql_lit}') LIKE '%{sql_needle}%' AS has_needle")
        return sql, [[any(c.isdigit() for c in val), needle in val.upper()]]
    if kind == "distinct_on":
        rows, keys, size = [], ["a''1", "b''2", "c''3", "d''4"], 0
        while size < length - 110 or len(rows) < 2:
            g = rng.choice(keys)
            rows.append((g, rng.randrange(10000)))
            size += len(f"('{g}', {rows[-1][1]}), ")
        best = {}
        for g, v in rows:
            best[g] = max(best.get(g, -1), v)
        values = ", ".join(f"('{g}', {v})" for g, v in rows)
        sql = (f"SELECT DISTINCT ON (g) g, v FROM (VALUES {values}) "
               f"AS t(g, v) ORDER BY g, v DESC")
        return sql, [[g.replace("''", "'"), best[g]] for g in sorted(best)]
    if kind == "nation_ilike":
        sql_lit, _ = lit_text(rng, max(10, length - 100))
        digit = rng.randrange(1, 3)
        sql = (f"SELECT count(*)::int AS n FROM nation WHERE n_name "
               f"ILIKE 'nation_{digit}%' AND n_name <> '{sql_lit}'")
        return sql, [[sum(1 for i in range(25)
                          if str(i).startswith(str(digit)))]]
    if kind == "jsonb_props":
        sql_lit, _ = lit_text(rng, max(10, length - 110))
        k = rng.randrange(100)
        sql = (f"SELECT count(*)::int AS n FROM events WHERE "
               f"(props::jsonb ->> 'k')::int = {k} AND event_type <> '{sql_lit}'")
        return sql, [[sum(1 for p in events if json.loads(p)["k"] == k)]]
    raise ValueError(kind)


PG_KINDS = ["cast_len", "regex", "distinct_on", "nation_ilike", "jsonb_props"]
# Every kind at every length, so the seed changes the literals and the
# order but not the round's make-up.
PG_LENGTHS = [400, 800, 1200]


def make_inputs(workload, seed, run_dir, data_dir):
    rng = random.Random(seed)
    expect = {}
    if workload == "corpus_sweep":
        inputs = {"stride": CORPUS_STRIDE, "always": KNOWN_FAILING,
                  "seed": seed}
    elif workload == "pg_dialect":
        import pyarrow.parquet as pq
        events = pq.read_table(os.path.join(data_dir, "events.parquet"),
                               columns=["props"]).column(0).to_pylist()
        statements = {}
        for kind in PG_KINDS:
            for length in PG_LENGTHS:
                name = f"{kind}_{length}"
                statements[name], expect[name] = pg_statement(
                    rng, kind, length, events)
        inputs = {"statements": statements, "seed": seed}
    elif workload == "ingest_merge":
        inputs = {"batches": make_batches(rng, run_dir, data_dir),
                  "seed": seed}
    else:
        fail(f"unknown workload {workload}")
    inputs["warmup_rounds"] = WORKLOADS[workload]["warmup_rounds"]
    inputs["timed_rounds"] = WORKLOADS[workload]["timed_rounds"]
    path = os.path.join(run_dir, "inputs.json")
    with open(path, "w") as fh:
        json.dump(inputs, fh)
    return path, inputs, expect


MERGE_BATCHES = 48


def make_batches(rng, run_dir, data_dir):
    """Seeded merge batches for orders: each updates 1 % of the existing
    keys (new price and status) and inserts new keys."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    n = orders.num_rows
    nrng = np.random.default_rng(rng.randrange(2**32))
    paths = []
    for b in range(MERGE_BATCHES):
        upd = orders.take(nrng.choice(n, n // 100, replace=False))
        upd = upd.set_column(
            upd.schema.get_field_index("o_totalprice"), "o_totalprice",
            pa.array(np.round(nrng.uniform(1000.0, 500000.0, upd.num_rows), 2)))
        upd = upd.set_column(
            upd.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array(nrng.choice(["F", "O", "P"], upd.num_rows)))
        k = n // 300
        new = orders.take(nrng.choice(n, k, replace=False))
        new = new.set_column(0, "o_orderkey", pa.array(
            np.arange(n + b * k, n + (b + 1) * k, dtype=np.int64)))
        path = os.path.join(run_dir, "batches", f"b{b:03d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.concat_tables([upd, new]), path)
        paths.append(path)
    return paths


# --------------------------------------------------------------- checks

def check_queries(result, run_dir, data_dir):
    """Oracle comparison with tools/check.py's rules for every distinct
    result of every entry; entries without an oracle get property
    checks. Marks each operation's check_ok and check_error."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import pandas as pd
    verdict = {}
    for kdir in sorted(glob.glob(os.path.join(run_dir, "results", "*"))):
        k = int(os.path.basename(kdir))
        shutil.copy(os.path.join(run_dir, "oracle_sql.json"), kdir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            check.main(data_dir, kdir)
        for line in buf.getvalue().splitlines():
            line = line.strip()
            if not line.startswith("["):
                continue
            tag, rest = line[1:].split("]", 1)
            name = rest.strip().split(":", 1)[0]
            tag = tag.strip()
            if tag == "ok":
                verdict[(name, k)] = ""
            elif tag == "rows-only":
                got = pd.read_parquet(os.path.join(kdir, name))
                oks = [c for c in got.columns if c.endswith("_ok")]
                if len(got) == 0:
                    verdict[(name, k)] = "empty result"
                elif any(not bool(got[c].all()) for c in oks):
                    verdict[(name, k)] = "bounded-error verdict false"
                else:
                    verdict[(name, k)] = ""
            else:
                verdict[(name, k)] = line
    for o in result["ops"]:
        if o["ok"]:
            err = o.get("check_error") or verdict.get(
                (o["name"], o.get("result")), "no oracle verdict")
            o["check_ok"] = not err
            o["check_error"] = err


def check_pg(result, expect):
    for o in result["ops"]:
        if o["ok"]:
            got = o.get("values")
            o["check_ok"] = got == expect[o["name"]]
            if not o["check_ok"]:
                o["check_error"] = f"got {got!r} want {expect[o['name']]!r}"


INGEST_READS = {
    "segment_status": """
        SELECT c_mktsegment, o_orderstatus, count(*) AS n,
          sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)) AS ep_cents,
          sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS tp_cents
        FROM o JOIN l ON o_orderkey = l_orderkey
          JOIN c ON o_custkey = c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "priority_revenue": """
        SELECT o_orderpriority, count(*) AS n,
          sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)
            * CAST(floor((1.0-l_discount)*100+0.5) AS BIGINT)) AS rev,
          max(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS max_tp
        FROM o JOIN l ON o_orderkey = l_orderkey
        WHERE l_discount >= 0.05
        GROUP BY 1 ORDER BY 1""",
}


def check_ingest(result, inputs, data_dir):
    """Replays the applied batches in DuckDB on the source parquet; each
    read and the end state must match, and the colocated join must run
    without exchanges."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE TABLE o AS SELECT * FROM '{data_dir}/orders.parquet'")
    con.execute(f"CREATE VIEW l AS SELECT * FROM '{data_dir}/lineitem.parquet'")
    con.execute(f"CREATE VIEW c AS SELECT * FROM '{data_dir}/customer.parquet'")
    applied = 0

    def apply(upto):
        nonlocal applied
        while applied < upto:
            b = inputs["batches"][applied % len(inputs["batches"])]
            con.execute(f"""UPDATE o SET o_totalprice = b.o_totalprice,
                o_orderstatus = b.o_orderstatus FROM '{b}' b
                WHERE o.o_orderkey = b.o_orderkey""")
            con.execute(f"""INSERT INTO o SELECT * FROM '{b}' b WHERE
                b.o_orderkey NOT IN (SELECT o_orderkey FROM o)""")
            applied += 1

    def norm(rows):
        return [[int(v) if isinstance(v, (int, float)) and not isinstance(
            v, bool) else v for v in r] for r in rows]

    for o in result["ops"]:
        if not o["ok"]:
            continue
        apply(o["batches_applied"])
        want = norm(con.execute(INGEST_READS[o["name"]]).fetchall())
        got = norm(sorted(o["values"]))
        err = o.get("check_error", "")
        if not err and got != want:
            err = "read differs from the DuckDB replay"
        if not err and o["read_exchanges"] < 0:
            err = "no orders-lineitem join node in the executed plan"
        elif not err and o["read_exchanges"] != 0:
            err = (f"colocated join ({o['read_join']}) planned "
                   f"{o['read_exchanges']} exchanges")
        o["check_ok"], o["check_error"] = not err, err
    apply(result["finish"]["batches_applied"])
    want = norm(con.execute("""SELECT count(*), sum(o_orderkey),
        sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)),
        sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) FROM o""")
                .fetchall())[0]
    if norm([result["finish"]["state"]])[0] != want:
        # the end state is checked once per run; charge it to the last op
        last = result["ops"][-1]
        last["check_ok"] = False
        last["check_error"] = "end state differs from the DuckDB replay"


# -------------------------------------------------------------- metrics

def end_to_end(result):
    ok = [o for o in result["ops"] if o["ok"] and o.get("check_ok", True)]
    if not ok:
        errors = sorted({o["error"] or o.get("check_error", "")
                         for o in result["ops"]})
        fail("no operation succeeded: " + "; ".join(errors)[:2000])
    return {
        "setup_s": stats.median(result["setup_s"]) + result["warmup_s"],
        "ops_per_s": stats.round_rate(ok),
        "op_gmean_ms": stats.gmean_of_medians(ok),
        "retained_heap_mb": result["retained_heap_mb"],
    }


PER_LAYER = [
    ("sql.translate_ms", "ms/op"), ("sql.chars", "chars/op"),
    ("queries.build_ms", "ms/op"),
    ("plans.analysis_ms", "ms/op"), ("plans.optimization_ms", "ms/op"),
    ("plans.planning_ms", "ms/op"),
    ("codegen.compiles", "count/op"), ("codegen.compile_ms", "ms/op"),
    ("exec.jobs", "count/op"), ("exec.stages", "count/op"),
    ("exec.tasks", "count/op"), ("exec.task_ms", "ms/op"),
    ("exec.task_wait_ms", "ms/op"), ("exec.busy_ratio", "ratio"),
    ("exec.failed_tasks", "count"),
    ("exec.input_mb", "MB/op"), ("exec.shuffle_write_mb", "MB/op"),
    ("exec.shuffle_read_mb", "MB/op"), ("exec.spill_mb", "MB/op"),
    ("sources.merge_ms", "ms/op"), ("sources.merge_p50_ms", "ms"),
    ("catalog.read_p50_ms", "ms"), ("catalog.create_ms", "ms/table"),
    ("catalog.files", "count"), ("catalog.table_mb", "MB"),
    ("catalog.write_mb", "MB/op"),
    ("catalog.read_exchanges", "count"),
    ("jvm.gc_ms", "ms/op"), ("jvm.gc_count", "count/op"),
    ("self.op_ms", "ms/op"), ("self.translate_ms", "ms/op"),
    ("self.build_ms", "ms/op"), ("self.plan_ms", "ms/op"),
    ("self.execute_ms", "ms/op"), ("self.merge_ms", "ms/op"),
    ("self.job_ms", "ms/op"), ("self.stage_ms", "ms/op"),
    ("trace.ops_per_s", "ops/s"), ("trace.op_p50_ms", "ms"),
]


def per_layer(result, cores):
    ops = result["ops"]
    n = len(ops)
    spans = [s for s in result.get("spans", []) if s["end_ns"] >= s["start_ns"]]
    span_ms = {}
    for s in spans:
        if s["name"] in ("translate", "build", "plan", "execute", "merge"):
            span_ms[s["name"]] = span_ms.get(s["name"], 0.0) + \
                (s["end_ns"] - s["start_ns"]) / 1e6
    selfs = {k: v / 1e6 for k, v in stats.self_time_by_name(spans).items()}
    ex = result.get("exec", {})
    fin = result["finish"]

    def per_op(total):
        return total / n

    def phase(k):
        return per_op(sum(o.get(f"phase_{k}", 0) for o in ops))

    merges = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
              if s["name"] == "merge"]
    by_op = {}
    for s in spans:
        if s["name"] in ("build", "plan", "execute") and s["parent"] >= 0:
            by_op[s["op"]] = by_op.get(s["op"], 0.0) + \
                (s["end_ns"] - s["start_ns"]) / 1e6
    reads = list(by_op.values()) if merges else []
    e2e_ok = [o for o in ops if o["ok"] and o.get("check_ok", True)]
    job_ms = stats.union_ns((s["start_ns"], s["end_ns"]) for s in spans
                            if s["name"] == "job") / 1e6
    m = {
        "sql.translate_ms": per_op(span_ms.get("translate", 0.0)),
        "sql.chars": per_op(sum(o.get("chars", 0) for o in ops)),
        "queries.build_ms": per_op(span_ms.get("build", 0.0)),
        "plans.analysis_ms": phase("analysis"),
        "plans.optimization_ms": phase("optimization"),
        "plans.planning_ms": phase("planning"),
        "codegen.compiles": per_op(sum(o.get("compiles", 0) for o in ops)),
        "codegen.compile_ms": per_op(sum(o.get("compile_ns", 0)
                                         for o in ops) / 1e6),
        "exec.jobs": per_op(ex.get("jobs", 0)),
        "exec.stages": per_op(ex.get("stages", 0)),
        "exec.tasks": per_op(ex.get("tasks", 0)),
        "exec.task_ms": per_op(ex.get("task_ms", 0)),
        "exec.task_wait_ms": per_op(ex.get("task_wait_ms", 0)),
        "exec.busy_ratio": ex.get("task_ms", 0) / (job_ms * cores)
        if job_ms else 0.0,
        "exec.failed_tasks": ex.get("failed_tasks", 0),
        "exec.input_mb": per_op(ex.get("input_bytes", 0) / MB),
        "exec.shuffle_write_mb": per_op(ex.get("shuffle_write_bytes", 0) / MB),
        "exec.shuffle_read_mb": per_op(ex.get("shuffle_read_bytes", 0) / MB),
        "exec.spill_mb": per_op(ex.get("spill_bytes", 0) / MB),
        "sources.merge_ms": per_op(sum(merges)),
        "sources.merge_p50_ms": stats.median(merges) if merges else 0.0,
        "catalog.read_p50_ms": stats.median(reads) if reads else 0.0,
        "catalog.create_ms": stats.median(fin["create_ms"])
        if fin.get("create_ms") else 0.0,
        "catalog.files": fin.get("table_files", 0),
        "catalog.table_mb": fin.get("table_bytes", 0) / MB,
        "catalog.write_mb": per_op(ex.get("output_bytes", 0) / MB),
        "catalog.read_exchanges": max([o.get("read_exchanges", 0)
                                       for o in ops] or [0]),
        "jvm.gc_ms": per_op(result["gc_ms"]),
        "jvm.gc_count": per_op(result["gc_count"]),
        "trace.ops_per_s": stats.round_rate(e2e_ok) if e2e_ok else 0.0,
        "trace.op_p50_ms": stats.median([o["dur_ms"] for o in e2e_ok])
        if e2e_ok else 0.0,
    }
    for name in ("op", "translate", "build", "plan", "execute", "merge",
                 "job", "stage"):
        m[f"self.{name}_ms"] = per_op(selfs.get(name, 0.0))
    return m


# ----------------------------------------------------------------- main

def machine_facts():
    facts = {"nproc": len(os.sched_getaffinity(0))}
    try:
        with open("/proc/meminfo") as fh:
            facts["mem_total_kb"] = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return facts


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "graftbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM exited with {code}; log tail:\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no graft sources beside the benchmark (build.sbt, src/main/scala)")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classpath, digest = ensure_build(bdir)
    conf = WORKLOADS[a.workload]
    data_dir = ensure_data(bdir, conf["sf"])
    run_dir = os.path.join(bdir, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs_path, inputs, expect = make_inputs(a.workload, a.seed, run_dir,
                                              data_dir)
    cores = len(os.sched_getaffinity(0))
    load0 = loadavg()
    jvm_started = time.time()
    run_jvm(classpath, [
        "--workload", a.workload, "--data", data_dir, "--inputs", inputs_path,
        "--out", run_dir, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores),
        "--setups", str(SETUPS)],
        run_dir, JVM_TIMEOUT_S - (time.time() - started))
    jvm_s = time.time() - jvm_started
    with open(os.path.join(run_dir, "result.json")) as fh:
        result = json.load(fh)
    if a.workload == "corpus_sweep":
        check_queries(result, run_dir, data_dir)
    elif a.workload == "pg_dialect":
        check_pg(result, expect)
    else:
        check_ingest(result, inputs, data_dir)
    check_s = time.time() - jvm_started - jvm_s
    attempted, failed = stats.accounting(result["ops"])
    durations = [o["dur_ms"] for o in result["ops"]
                 if o["ok"] and o.get("check_ok", True)]
    if a.trace:
        values, units = per_layer(result, cores), dict(PER_LAYER)
    else:
        values, units = end_to_end(result), dict(END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_commit": git_commit(), "source_digest": digest,
        "machine": dict(machine_facts(), **result["machine"]),
        "loadavg": {"before": load0, "jvm_start": result["loadavg"][0],
                    "jvm_end": result["loadavg"][1], "after": loadavg()},
        "setup_s": result["setup_s"], "warmup_s": result["warmup_s"],
        "warmup_ops": result["warmup_ops"],
        "wall_s": {"before_jvm": jvm_started - started, "jvm": jvm_s,
                   "checks": check_s},
        "op_p50_ms": stats.median(durations) if durations else None,
        "op_p90_ms": stats.percentile(durations, 90),
        "timed_s": result["timed_s"], "rounds": result["rounds"],
        "attempted": attempted, "failed": failed, "metrics": metrics,
        "failures": sorted({f"{o['name']}: {o['error'] or o.get('check_error')}"
                            for o in result["ops"]
                            if not (o["ok"] and o.get("check_ok", True))}),
        "samples": [{k: o.get(k) for k in ("name", "round", "start_ms",
                                           "dur_ms", "ok", "check_ok")}
                    for o in result["ops"]],
    }
    if a.trace:
        record["spans"] = result.get("spans", [])
    rec_dir = os.path.join(bdir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{a.workload}-s{a.seed}-t{a.trace}-{int(started)}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"record: {rec_path}")
    for f in record["failures"]:
        print(f"failed: {f}")
    print(json.dumps({"correct": all(
        o.get("check_ok", True) for o in result["ops"] if o["ok"]),
        "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

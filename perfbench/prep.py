"""Build the library and the harness, and make the benchmark's inputs.

Everything goes under the build directory inside the checkout:
  classpath.txt         runtime classpath of the compiled harness + library
  data/<workload>/      TPC-H tables from DuckDB's dbgen, in the column
                        types of the repository's test data, plus goldens
A stamp over the sources decides whether the build must be redone; the
inputs do not depend on the seed (the seed only reorders attributes and
queries), so they are made once per checkout.
"""
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# TPC-H scale factor of each workload's input
SCALE = {"paper_star": 0.002, "entropy_lattice": 0.002, "graph_family": 0.001}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LINEITEM_SQL = """
SELECT l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey,
       l_suppkey::BIGINT AS l_suppkey, l_linenumber::INTEGER AS l_linenumber,
       l_quantity::DOUBLE AS l_quantity,
       l_extendedprice::DOUBLE AS l_extendedprice,
       l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax,
       l_returnflag, l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate
FROM lineitem ORDER BY l_orderkey, l_linenumber"""

STAR_SQL = """
SELECT l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey,
       l_suppkey::BIGINT AS l_suppkey, l_linenumber::INTEGER AS l_linenumber,
       l_returnflag, l_linestatus, o_custkey::BIGINT AS o_custkey,
       o_orderstatus, c_nationkey::INTEGER AS c_nationkey, n_name,
       p_brand, s_nationkey::INTEGER AS s_nationkey
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY l_orderkey, l_linenumber"""

LATTICE_COLS = ["l_returnflag", "l_linestatus", "l_linenumber", "l_discount",
                "l_tax", "l_quantity", "l_suppkey"]

DATA_VERSION = "1"


def duck(tmp):
    # built-in extensions only: nothing may be fetched
    con = duckdb.connect(config={"autoinstall_known_extensions": "false",
                                 "autoload_known_extensions": "false"})
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def source_stamp():
    h = hashlib.sha1()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    # the build must resolve from local caches only
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build(build):
    stamp = source_stamp()
    stamp_file = os.path.join(build, "build.stamp")
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(build, exist_ok=True)
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=fh,
            text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (rc={p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def java_cmd(cp, main_args, heap="2g", tmp=None):
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", cp, "graftbench.Main"] + main_args


def canon_value(v):
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else str(round(v, 9))
    if v.__class__.__name__ == "Decimal":
        return str(round(float(v), 9))
    return str(v)


def canon(columns, rows):
    """Columns sorted by name, values stringified (floats to 9 places),
    rows sorted: the repository's oracle comparison."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(canon_value(r[i]) for i in order) for r in rows)
    return {"columns": [columns[i] for i in order], "rows": [list(r) for r in out]}


def gen_tables(con, sf, out, star):
    con.execute(f"CALL dbgen(sf={sf})")
    if star:
        con.execute(f"COPY ({STAR_SQL}) TO '{out}/star.parquet' (FORMAT PARQUET)")
    else:
        con.execute(f"COPY ({LINEITEM_SQL}) TO '{out}/lineitem.parquet' (FORMAT PARQUET)")
    for t in ["lineitem", "orders", "customer", "part", "supplier", "nation",
              "region", "partsupp"]:
        con.execute(f"DROP TABLE IF EXISTS {t}")


def entropy_golden(con, out):
    """H(X) for every non-empty subset X of the lattice columns, computed
    in DuckDB on the values as the engine sees them (trimmed strings).
    H(all columns) is log2 N: the engine's convention for the full set."""
    con.execute(f"CREATE OR REPLACE VIEW li AS SELECT * FROM read_parquet('{out}/lineitem.parquet')")
    n = con.execute("SELECT count(*) FROM li").fetchone()[0]
    lines = []
    k = len(LATTICE_COLS)
    for mask in range(1, 1 << k):
        cols = [c for i, c in enumerate(LATTICE_COLS) if mask >> i & 1]
        if len(cols) == k:
            h = math.log2(n)
        else:
            keys = ", ".join(f"trim(CAST({c} AS VARCHAR))" for c in cols)
            s = con.execute(f"SELECT sum(c * log2(c)) FROM (SELECT count(*)::DOUBLE AS c "
                            f"FROM li GROUP BY {keys})").fetchone()[0]
            h = math.log2(n) - s / n
        lines.append(",".join(sorted(cols)) + "\t" + repr(h))
    with open(f"{out}/entropy_golden.tsv", "w") as fh:
        fh.write("\n".join(lines) + "\n")


def graph_golden(con, out, oracles):
    con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM read_parquet('{out}/lineitem.parquet')")
    golden = {}
    for q, sql in sorted(oracles.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        golden[q] = canon(cols, cur.fetchall())
    with open(f"{out}/golden.json", "w") as fh:
        json.dump(golden, fh)


def seeded_input(data, workload, seed, dest):
    """The workload's input for one run. The paper and lattice inputs get
    their rows in a seed-determined order: that changes how rows fall
    into partitions and nothing the engine computes (codes follow value
    order). The graph input is shared; its seed orders the queries."""
    src = os.path.join(data, workload)
    if workload == "graph_family":
        return src
    os.makedirs(dest)
    con = duck(dest)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            con.execute(
                f"COPY (SELECT * EXCLUDE (file_row_number) FROM read_parquet("
                f"'{src}/{f}', file_row_number = true) "
                f"ORDER BY hash(file_row_number + {int(seed)})) "
                f"TO '{dest}/{f}' (FORMAT PARQUET)")
        else:
            shutil.copy(os.path.join(src, f), dest)
    con.close()
    return dest


def jd_problems(star, body, tmp):
    """Re-derive each mined JD's measure, sum_i H(lhs+C_i) - (k-1) H(lhs)
    - H(R), from DuckDB entropies of the run's input; each must be within
    (k-1) * epsilon, with the engine's 1e-5 slack. H of all columns is
    log2 N, the engine's convention."""
    con = duck(tmp)
    con.execute(f"CREATE VIEW r AS SELECT * FROM read_parquet('{star}')")
    n = con.execute("SELECT count(*) FROM r").fetchone()[0]
    full = frozenset(body["columns"])
    memo = {frozenset(): 0.0, full: math.log2(n)}

    def h(cols):
        x = frozenset(cols)
        if x not in memo:
            keys = ", ".join(f"trim(CAST({c} AS VARCHAR))" for c in sorted(x))
            s = con.execute(f"SELECT sum(c * log2(c)) FROM (SELECT count(*)::DOUBLE AS c "
                            f"FROM r GROUP BY {keys})").fetchone()[0]
            memo[x] = math.log2(n) - s / n
        return memo[x]
    problems = []
    eps = body["epsilon"]
    for jd in body["jds"]:
        k = len(jd["components"])
        m = (sum(h(jd["lhs"] + c) for c in jd["components"])
             - (k - 1) * h(jd["lhs"]) - math.log2(n))
        if m - (k - 1) * eps > 1e-5:
            problems.append(f"JD {jd} re-derives to measure {m}")
    con.close()
    return problems


def ensure_data(build, cp, stamp):
    data = os.path.join(build, "data")
    stamp_file = os.path.join(data, "data.stamp")
    want = f"{DATA_VERSION} {duckdb.__version__} {json.dumps(SCALE, sort_keys=True)} {stamp}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return data
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    con = duck(data)
    for w, sf in sorted(SCALE.items()):
        out = os.path.join(data, w)
        os.makedirs(out)
        gen_tables(con, sf, out, star=(w == "paper_star"))
    entropy_golden(con, os.path.join(data, "entropy_lattice"))
    oracle_file = os.path.join(build, "oracles.json")
    subprocess.run(java_cmd(cp, ["--dump-oracles", oracle_file]), check=True,
                   stdout=subprocess.DEVNULL, timeout=120)
    with open(oracle_file) as fh:
        graph_golden(con, os.path.join(data, "graph_family"), json.load(fh))
    con.close()
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return data

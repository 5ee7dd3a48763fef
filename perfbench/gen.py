"""Seeded project generator for the flow workload, and the independent
DuckDB evaluation of the same project that the output check compares
against.

Every generated model has the same four columns, `k` (BIGINT, unique per
model), `g` (BIGINT), `v` (BIGINT) and `s` (VARCHAR), so any model can
feed any template. Only integer and string values appear, so the Spark
run and DuckDB agree exactly and an md5-based checksum is portable.

The layer composition is fixed; the seed picks each node's inputs and
its constants. That keeps the amount of work close across seeds while
the DAG shape, data slices and batch numbers change.
"""
import os
import random

COLS = ("g", "k", "s", "v")  # sorted: the checksum's column order


class Model:
    def __init__(self, name, deps, sql=None, py=None, duck=None,
                 meta=None, tests=(), incremental=False):
        self.name = name
        self.deps = list(deps)
        self.sql = sql          # Spark template text (None for Python)
        self.py = py            # Python model source (None for SQL)
        self.duck = duck        # DuckDB text with refs as {name} fields
        self.meta = dict(meta or {})
        self.tests = list(tests)
        self.incremental = incremental


def _ref(name):
    return "{{ ref('%s') }}" % name


def _src(table):
    return "{{ source('warehouse','%s') }}" % table


# --- templates: (spark_sql, duck_sql), refs as {a} {b} {c} ---------------

def _filter(a, m, r, c):
    t = ("SELECT k, g, v + %d AS v, s FROM {a} WHERE (k + g) %% %d <> %d"
         % (c, m, r))
    return t, [a]


def _join(a, b):
    t = ("SELECT x.k, x.g, x.v + y.v AS v, x.s FROM {a} x JOIN "
         "(SELECT k, max(v) AS v FROM {b} GROUP BY k) y ON x.k = y.k")
    return t, [a, b]


def _join3(a, b, c):
    t = ("SELECT x.k, x.g + coalesce(z.g, 0) AS g, x.v + y.v AS v, x.s "
         "FROM {a} x JOIN (SELECT k, max(v) AS v FROM {b} GROUP BY k) y "
         "ON x.k = y.k LEFT JOIN (SELECT k, count(*) AS g FROM {c} "
         "GROUP BY k) z ON x.k = z.k")
    return t, [a, b, c]


def _union(a, b):
    t = ("SELECT k, g, v, s FROM {a} WHERE k % 2 = 0 UNION ALL "
         "SELECT k, g, v, s FROM {b} WHERE k % 2 = 1")
    return t, [a, b]


def _agg(a, m):
    t = ("SELECT k %% %d AS k, count(*) AS g, sum(v) AS v, min(s) AS s "
         "FROM {a} GROUP BY k %% %d" % (m, m))
    return t, [a]


def _render(t, deps, fmt):
    return t.format(**{k: fmt(d) for k, d in zip("abc", deps)})


def _sql_model(name, tmpl, **kw):
    t, deps = tmpl
    return Model(name, deps, sql=_render(t, deps, _ref),
                 duck=_render(t, deps, lambda d: "{%s}" % d), **kw)


PY_MAP = '''def model(dbt, fal):
    df = dbt.ref("{a}")
    df = df[(df["k"] + df["g"]) % {m} != {r}].copy()
    df["v"] = df["v"] * {c} + df["g"]
    return df[["k", "g", "v", "s"]]
'''
DUCK_MAP = ("SELECT k, g, v * {c} + g AS v, s FROM {{{a}}} "
            "WHERE (k + g) % {m} <> {r}")

PY_JOIN = '''def model(dbt, fal):
    a = dbt.ref("{a}")
    b = dbt.ref("{b}")
    b = b.groupby("k", as_index=False)["v"].max()
    out = a.merge(b.rename(columns={{"v": "v2"}}), on="k", how="inner")
    out["v"] = out["v"] + out["v2"]
    return out[["k", "g", "v", "s"]]
'''
DUCK_JOIN = ("SELECT x.k, x.g, x.v + y.v AS v, x.s FROM {{{a}}} x JOIN "
             "(SELECT k, max(v) AS v FROM {{{b}}} GROUP BY k) y "
             "ON x.k = y.k")


def _py_map(name, a, mode, rng):
    kw = dict(a=a, m=rng.randint(5, 9), r=rng.randint(0, 4),
              c=rng.randint(2, 5))
    return Model(name, [a], py=PY_MAP.format(**kw),
                 duck=DUCK_MAP.format(**kw), meta={"python_mode": mode})


def _py_join(name, a, b):
    return Model(name, [a, b], py=PY_JOIN.format(a=a, b=b),
                 duck=DUCK_JOIN.format(a=a, b=b),
                 meta={"python_mode": "global"})


def generate(seed):
    """The flow project for `seed`: 13 models in dependency order."""
    rng = random.Random(seed)
    pick = rng.choice
    ms = []

    def filt(a):
        return _filter(a, rng.randint(6, 11), rng.randint(0, 5),
                       rng.randint(1, 99))

    # staging: both order-keyed sources, one row per order key
    ms.append(Model("stg_orders_a", [], sql=(
        "SELECT o_orderkey AS k, o_custkey %% 50 AS g, "
        "CAST(floor(o_totalprice) AS BIGINT) AS v, o_orderpriority AS s "
        "FROM %s WHERE o_orderkey %% %d <> %d"
        % (_src("orders"), rng.randint(7, 13), rng.randint(0, 6)))))
    ms.append(Model("stg_orders_b", [], sql=(
        "SELECT o_orderkey AS k, o_custkey %% %d AS g, o_custkey AS v, "
        "o_orderstatus AS s FROM %s"
        % (rng.randint(20, 40), _src("orders")))))
    ms.append(Model("stg_lineitem_a", [], sql=(
        "SELECT l_orderkey AS k, count(*) AS g, "
        "CAST(sum(l_linenumber) AS BIGINT) AS v, max(l_returnflag) AS s "
        "FROM %s GROUP BY l_orderkey" % _src("lineitem"))))
    for m in ms:
        m.duck = m.sql.replace(_src("orders"), "src_orders") \
            .replace(_src("lineitem"), "src_lineitem")
    stg = [m.name for m in ms]

    # Each slot reads from fixed levels and the seed picks which model
    # of that level, so the DAG shape (three levels deep) and the node
    # kinds stay the same for every seed.
    l1 = [
        _sql_model("l1_filter", filt(pick(stg))),
        _sql_model("l1_join3", _join3(*rng.sample(stg, 3))),
    ]
    n1 = [m.name for m in l1]
    x = rng.sample(stg, 3)
    py = [
        _py_map("py_map_g1", x[0], "global", rng),
        _py_map("py_map_p1", x[1], "partition", rng),
        _py_map("py_map_p2", x[2], "partition", rng),
        _py_join("py_join_g1", *rng.sample(stg, 2)),
    ]
    l2 = [
        _sql_model("l2_union", _union("py_map_p1", pick(n1))),
        _sql_model("l2_join3", _join3("py_join_g1", "py_map_g1",
                                      pick(n1))),
    ]
    ms.extend(l1 + py + l2)
    # an incremental append model: a batch slice of a model with no
    # incremental ancestor, and an aggregate downstream of it
    t = "SELECT k, g, v, s FROM {a} WHERE k % 4 = {{{{ var('batch') }}}}"
    ms.append(_sql_model("inc_slice", (t, [pick(n1)]),
                         meta={"incremental_strategy": "append"},
                         incremental=True, tests=["unique k"]))
    ms.append(_sql_model("inc_rollup", _agg("inc_slice", 97)))
    # data tests on a quarter of the models
    ms[3].tests.append("not_null s")
    pick(l2).tests.append("unique k")
    assert len(ms) == 13, len(ms)
    return ms


def write_project(ms, project_dir, data_dir):
    """Lay the models out as a project directory the program loads."""
    models = os.path.join(project_dir, "models")
    os.makedirs(models, exist_ok=True)
    for m in ms:
        if m.py is not None:
            body, ext = m.py, ".py"
        else:
            body, ext = m.sql + "\n", ".sql"
        with open(os.path.join(models, m.name + ext), "w") as f:
            f.write(body)
        meta = dict(m.meta)
        if m.incremental:
            meta["incremental"] = "true"
        if meta:
            with open(os.path.join(models, m.name + ".meta"), "w") as f:
                f.writelines("%s=%s\n" % kv for kv in sorted(meta.items()))
        if m.tests:
            with open(os.path.join(models, m.name + ".tests"), "w") as f:
                f.writelines(t + "\n" for t in m.tests)
    with open(os.path.join(project_dir, "sources.conf"), "w") as f:
        for t in ("orders", "lineitem"):
            f.write("warehouse %s %s\n"
                    % (t, os.path.join(data_dir, t + ".parquet")))


def checksum_sql(table):
    """Row count and order-independent checksum of `table` in DuckDB;
    the Spark side computes the same expression (flow.scala)."""
    cat = ", ".join("CAST(%s AS VARCHAR)" % c for c in COLS)
    return ("SELECT count(*), coalesce(sum(CAST(CAST('0x' || "
            "substr(md5(concat_ws('|', %s)), 1, 15) AS BIGINT) AS HUGEINT)"
            "), 0) FROM %s" % (cat, table))


def expected(ms, data_dir, batches):
    """Per state (one per batch run in order on the same storage root):
    {model: (rows, checksum)} from DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in ("orders", "lineitem"):
        con.execute("CREATE VIEW src_%s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    states = []
    for i, batch in enumerate(batches):
        for m in ms:
            q = m.duck.replace("{{ var('batch') }}", str(batch)) \
                .format(**{d: "t_" + d for d in m.deps})
            if m.incremental and i > 0:
                q = "SELECT * FROM t_%s UNION ALL (%s)" % (m.name, q)
            con.execute("CREATE OR REPLACE TABLE n_%s AS %s" % (m.name, q))
            con.execute("DROP TABLE IF EXISTS t_%s" % m.name)
            con.execute("ALTER TABLE n_%s RENAME TO t_%s" % (m.name, m.name))
        states.append({m.name: tuple(str(x) for x in con.execute(
            checksum_sql("t_" + m.name)).fetchone()) for m in ms})
    con.close()
    return states

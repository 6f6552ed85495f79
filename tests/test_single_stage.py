"""A gated statement (``simple_parser.interpret_if_few``) plans as one
Spark stage: each table it reads is one partition of itself, no join
broadcasts by size, AQE is off and one shuffle partition serves the
exchanges left.  A fresh-key execute of the benchmark's lookup statements
is then one Spark job, with layout partition pruning intact; a
nondeterministic statement keeps its partitions; and every shape returns
what ``spark.sql(sql, args=)`` returns on the caller's session."""

import os
import re

import pytest

from datafusion_dynamic_filter_spark.plans import physical, scan_metrics
from tests.test_batch_transport import _jobs_during
from tests.test_interp_expr_policy import GROUP_SQL, JOIN_SQL, ROLLUP_SQL, SQL


@pytest.fixture(scope="module")
def layout(engine, testdata):
    import tests.conftest as c

    engine.load_testdata(c.SF_DIR)  # the layout's scale: modules before may register another
    return engine.ensure_point_layout(
        "orders", "o_orderkey", source_path=os.path.join(c.SF_DIR, "orders.parquet"),
    )


# A literal-path join: one partition per view, so its sort-merge join
# shuffles neither side.
ROLLUP_JOIN_SQL = (
    "SELECT c.c_mktsegment, count(*) AS n FROM customer c JOIN orders o "
    "ON c.c_custkey = o.o_custkey WHERE o.o_orderkey BETWEEN $1 AND $1 + 9 "
    "GROUP BY ROLLUP(c.c_mktsegment)"
)


def _exchanges(df) -> list[str]:
    return [n.name for n in physical(df).walk() if n.name.endswith("Exchange")]


def test_fresh_key_execute_is_one_job(engine, layout):
    sc = engine.spark.sparkContext
    stmts = {
        "point": engine.prepare(SQL),
        "join": engine.prepare(JOIN_SQL),
        "group": engine.prepare(GROUP_SQL),
        "rollup": engine.prepare(ROLLUP_SQL),
        "rollup join": engine.prepare(ROLLUP_JOIN_SQL),
    }
    assert [s.mode for s in stmts.values()] == ["dynamic"] * 3 + ["literal"] * 2
    assert "orders" in stmts["point"]._template.layouts
    for name, stmt in stmts.items():
        assert stmt.interpreted, name
        stmt.execute({"$1": 2}).collect()  # first-execute work aside
        for k in (1217, 1223):  # keys no other test binds to these statements
            jobs, df = _jobs_during(sc, lambda: stmt.execute({"$1": k}))
            assert jobs == 0, name  # planning runs nothing
            jobs, _ = _jobs_during(sc, df.collect)
            assert jobs == 1, (name, k)
        # ROLLUP's Expand breaks the partitioning: its one shuffle stays.
        want = ["ShuffleExchange"] if name.startswith("rollup") else []
        assert _exchanges(df) == want, name
        stmt.close()


def test_layout_point_reads_one_file(engine, layout):
    stmt = engine.prepare(SQL)
    assert stmt._template.single_stage
    df = stmt.execute({"$1": 1229})
    df.collect()
    assert scan_metrics(df)["files_read"] == 1
    assert physical(df).find("Coalesce")
    stmt.close()


def test_narrowed_batch_plans_no_exchange(engine, layout):
    # The narrowed clone's layout view is one partition too.
    stmt = engine.prepare(JOIN_SQL)
    assert stmt._template._narrow and stmt._template.batch_form == "in"
    df = stmt.execute_batch([[k] for k in NARROW])
    assert len(df.collect()) == len(NARROW)
    assert _exchanges(df) == []
    stmt.close()


@pytest.fixture(scope="module")
def four_files(engine, tmp_path_factory):
    """``t4(id, v)``: ids 0..99 in four parquet files, which the scan reads
    as four partitions."""
    path = str(tmp_path_factory.mktemp("t4") / "t4")
    engine.spark.range(100).selectExpr("id", "id * 3 AS v").repartition(4, "id") \
        .write.parquet(path)
    engine.register_parquet("t4", path)
    yield "t4"
    engine.spark.catalog.dropTempView("t4")


@pytest.mark.parametrize("sql,mode", [
    ("SELECT id, spark_partition_id() AS p FROM t4 WHERE id = $1", "dynamic"),
    ("SELECT id, monotonically_increasing_id() >> 33 AS p FROM t4 WHERE id = $1", "dynamic"),
    ("SELECT p, count(*) AS n FROM (SELECT spark_partition_id() AS p FROM t4 "
     "WHERE id >= $1) GROUP BY ROLLUP(p)", "literal"),
])
def test_nondeterministic_statement_keeps_its_partitions(engine, four_files, sql, mode):
    stmt = engine.prepare(sql)
    assert stmt.mode == mode and stmt.interpreted  # the codegen gate still applies
    session = stmt._template.spark if mode == "dynamic" else stmt._session
    assert session.conf.get("spark.sql.adaptive.enabled") == "true"
    if mode == "dynamic":  # every id, as one IN-form batch
        assert not stmt._template.single_stage
        df = stmt.execute_batch([[i] for i in range(100)])
    else:
        df = stmt.execute({"$1": 0})
    parts = {r["p"] for r in df.collect()} - {None}
    assert parts == {0, 1, 2, 3}, parts
    assert not physical(df).find("Coalesce")
    stmt.close()


def test_deterministic_twin_runs_on_one_partition(engine, four_files):
    stmt = engine.prepare("SELECT id, v FROM t4 WHERE id IN $1")
    assert stmt._template.single_stage
    df = stmt.execute({"$1": list(range(0, 100, 7))})
    assert sorted(r["id"] for r in df.collect()) == list(range(0, 100, 7))
    assert physical(df).find("Coalesce")
    stmt.close()


def test_global_temp_view_keeps_its_partitions(engine, four_files):
    # Only the session's own temp views are re-registered as one partition.
    engine.spark.table("t4").createOrReplaceGlobalTempView("g4")
    for sql in ("SELECT id, v FROM global_temp.g4 WHERE id = $1",
                "SELECT id, count(*) AS n FROM global_temp.g4 WHERE id = $1 GROUP BY ROLLUP(id)"):
        stmt = engine.prepare(sql)
        assert stmt.interpreted, sql
        assert sorted(map(tuple, stmt.execute({"$1": 5}).collect()), key=repr) == sorted(
            map(tuple, engine.spark.sql(sql.replace("$1", "5")).collect()), key=repr)
        stmt.close()
    engine.spark.catalog.dropGlobalTempView("g4")


# Parity shapes over the parquet fixtures, all on the layout key.  ``IN
# :ks`` takes a list.
SHAPES = {
    "join": "SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_orderkey = :k",
    "group_having": "SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS s "
                    "FROM orders WHERE o_orderkey IN :ks GROUP BY o_orderstatus "
                    "HAVING count(*) >= 1",
    "join_group": "SELECT c.c_nationkey, count(*) AS n FROM customer c JOIN orders o "
                  "ON c.c_custkey = o.o_custkey WHERE o.o_orderkey = :k "
                  "GROUP BY c.c_nationkey HAVING count(*) > 0",
    "window": "SELECT o_orderkey, o_totalprice, "
              "sum(o_totalprice) OVER (PARTITION BY o_orderpriority) AS s, "
              "row_number() OVER (ORDER BY o_orderkey) AS rn "
              "FROM orders WHERE o_orderkey IN :ks",
    "order_limit": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey IN :ks "
                   "ORDER BY o_totalprice DESC, o_orderkey LIMIT 3",
    "union": "SELECT o_custkey AS k FROM orders WHERE o_orderkey = :k "
             "UNION SELECT c_custkey FROM customer WHERE c_acctbal > 9900",
    "intersect": "SELECT o_custkey AS k FROM orders WHERE o_orderkey IN :ks "
                 "INTERSECT SELECT c_custkey FROM customer WHERE c_nationkey < 12",
    "in_subquery": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = :k "
                   "AND o_custkey IN (SELECT c_custkey FROM customer "
                   "WHERE c_mktsegment = 'BUILDING')",
    "rollup": "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top "
              "FROM orders WHERE o_orderkey BETWEEN :k AND :k + 40 "
              "GROUP BY ROLLUP(o_orderpriority)",
    "rollup_in": "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders "
                 "WHERE o_orderkey IN :ks GROUP BY ROLLUP(o_orderstatus, o_orderpriority)",
}

# Key sets: a few buckets of 64, every bucket, and a NULL key.
NARROW = [1, 2, 3, 35, 100]
EVERY = list(range(64))
NULLS = [3, None, 7]


def _spark_sql(spark, sql: str, rows: list[dict]):
    """``spark.sql(sql, args=)`` on the caller's session: the UNION ALL of
    the statement over each of ``rows``, its markers renamed per row; a
    list value is bound one marker per element."""
    parts, args = [], {}
    for i, row in enumerate(rows):
        part = sql
        for name, v in row.items():
            vals = v if isinstance(v, list) else [v]
            marks = [f"{name}_{i}_{j}" for j in range(len(vals))]
            text = "(" + ", ".join(f":{m}" for m in marks) + ")" if isinstance(v, list) \
                else f":{marks[0]}"
            part = re.sub(rf":{name}\b", text, part)
            args.update(zip(marks, vals))
        parts.append(f"({part})")
    return spark.sql(" UNION ALL ".join(parts), args=args)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_results_match_spark_sql(engine, layout, shape):
    spark, sql = engine.spark, SHAPES[shape]
    name = "ks" if ":ks" in sql else "k"
    stmt = engine.prepare(sql)
    assert stmt.interpreted, shape
    wrap = (lambda v: [v]) if name == "ks" else (lambda v: v)
    execs = [{name: wrap(k)} for k in (1, 7, 35, 10**6)]  # incl. a key matching nothing
    if name == "ks":  # a list that spans buckets
        execs.append({"ks": NARROW})
    for row in execs:
        assert _rows(stmt.execute(row)) == _rows(_spark_sql(spark, sql, [row])), (shape, row)
    for keys in (NARROW, EVERY, NULLS):
        rows = [{name: wrap(k)} for k in keys]
        assert _rows(stmt.execute_batch(rows)) == _rows(_spark_sql(spark, sql, rows)), \
            (shape, keys[:5])
    stmt.close()

"""The codegen gate: a prepared query whose executions touch few rows
(hot batch-stats pruning, a layout bucket, or a flat table's rows read
from its parquet footers) plans on its private cloned session with no
generated code (no wholestage codegen, interpreted expressions), so a
fresh key compiles no class.  Point-lookup and hot templates and
literal-path queries are gated; above ``_INTERP_MAX_SCAN_ROWS`` a point
template keeps expression codegen with wholestage codegen off.  Results
are identical either way (the interpreted path is Spark's own fallback
evaluator).  ``PreparedStatement.interpreted`` reports the choice."""

import os

import pytest

import datafusion_dynamic_filter_spark.simple_parser as sp

SQL = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = $1"


@pytest.fixture(scope="module")
def layout(engine, testdata):
    import tests.conftest as c

    return engine.ensure_point_layout(
        "orders", "o_orderkey",
        source_path=os.path.join(c.SF_DIR, "orders.parquet"),
    )


def test_hot_template_runs_interpreted_expressions(engine, testdata):
    stmt = engine.prepare(SQL, hot=True, layout=False)
    assert stmt.interpreted
    conf = stmt._template.spark.conf  # the policy interpret_if_few sets
    assert conf.get("spark.sql.codegen.wholeStage") == "false"
    assert conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
    assert conf.get("spark.sql.constraintPropagation.enabled") == "false"
    stmt.close()


def test_flat_template_gated_by_its_footer_rows(engine, testdata, monkeypatch):
    import tests.conftest as c
    from datafusion_dynamic_filter_spark.layouts import parquet_row_count

    rows = parquet_row_count(os.path.join(c.SF_DIR, "orders.parquet"))
    assert rows <= sp._INTERP_MAX_SCAN_ROWS
    stmt = engine.prepare(SQL, layout=False)
    assert stmt._template._interp_scan_rows() == rows
    assert stmt.interpreted  # under the bound: no generated code
    stmt.close()
    monkeypatch.setattr(sp, "_INTERP_MAX_SCAN_ROWS", rows - 1)
    stmt = engine.prepare(SQL, layout=False)
    t = stmt._template
    assert t.nojit and not stmt.interpreted  # above it: wholestage off ...
    assert t.spark.conf.get("spark.sql.codegen.wholeStage") == "false"
    assert (  # ... but expression codegen kept
        t.spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
        == "FALLBACK"
    )
    stmt.close()


def test_memtable_template_keeps_codegen(engine, users):
    # A LocalRelation has no footer count, so the gate has no estimate.
    stmt = engine.prepare("SELECT name FROM users WHERE id = $1")
    assert stmt._template.nojit and stmt._template._interp_scan_rows() is None
    assert not stmt.interpreted
    stmt.close()


@pytest.mark.parametrize(
    "sql",
    [
        # the key comparison is not a top-level WHERE conjunct: every
        # execution scans all rows (all buckets of a layout)
        "SELECT o_orderkey FROM orders WHERE o_orderkey = $1 OR o_totalprice > 300000",
        "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING o_custkey = $1",
        "SELECT o_orderkey FROM orders WHERE o_orderkey = $1 + 1",
    ],
)
def test_non_conjunct_operand_is_no_point_lookup(engine, layout, testdata, sql):
    stmt = engine.prepare(sql)
    t = stmt._template
    assert not t.nojit and not stmt.interpreted and not t.layouts
    stmt.close()


def test_layout_template_interpreted_and_matches_flat(engine, layout, testdata):
    flat = engine.prepare(SQL, layout=False)
    lay = engine.prepare(SQL)
    t = lay._template
    assert "orders" in t.layouts and lay.interpreted
    est = t._interp_scan_rows()
    assert est is not None and 0 <= est <= sp._INTERP_MAX_SCAN_ROWS
    for k in (1, 7, 42, 10**9):  # incl. a key matching nothing
        want = [tuple(r) for r in flat.execute({"$1": k}).collect()]
        got = [tuple(r) for r in lay.execute({"$1": k}).collect()]
        assert got == want, k
    flat.close()
    lay.close()


def test_gate_respects_row_bound(engine, layout, testdata, monkeypatch):
    monkeypatch.setattr(sp, "_INTERP_MAX_SCAN_ROWS", 0)
    stmt = engine.prepare(SQL, hot=True, layout=False)
    assert not stmt.interpreted
    stmt.close()


# The benchmark's lookup statements: a point lookup, a join and a GROUP BY
# on templates, and a ROLLUP, which takes the literal path.
JOIN_SQL = (
    "SELECT c.c_name, c.c_mktsegment, o.o_orderkey, o.o_totalprice "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "WHERE o.o_orderkey = $1"
)
GROUP_SQL = (
    "SELECT o_custkey, count(*) AS n, max(o_totalprice) AS top "
    "FROM orders WHERE o_custkey = $1 GROUP BY o_custkey"
)
ROLLUP_SQL = (
    "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top "
    "FROM orders WHERE o_orderkey BETWEEN $1 AND $1 + 9 "
    "GROUP BY ROLLUP(o_orderpriority)"
)


def _four(engine):
    stmts = {
        "flat point": engine.prepare(SQL, layout=False),
        "join": engine.prepare(JOIN_SQL),
        "group": engine.prepare(GROUP_SQL),
        "rollup": engine.prepare(ROLLUP_SQL),
    }
    assert [s.mode for s in stmts.values()] == ["dynamic"] * 3 + ["literal"]
    return stmts


def test_fresh_keys_compile_no_class(engine, layout, testdata):
    # Keys no other test binds to these statements: a generated class is
    # cached by its source, which holds a bound literal.  The first execute
    # may compile a class that holds none (an aggregation's row joiner,
    # which has no interpreted form); it is cached for the next key.
    keys = {
        "flat point": [1013, 1019, 1021, 1031, 1033],
        "join": [1039, 1049, 1051, 1061, 1063],
        "group": [101, 103, 107, 109, 113],
        "rollup": [1069, 1087, 1091, 1093, 1097],
    }
    metric = engine.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = {}
    for name, stmt in _four(engine).items():
        assert stmt.interpreted, name
        stmt.execute({"$1": keys[name][0] - 1}).collect()
        before = metric.METRIC_COMPILATION_TIME().getCount()
        for k in keys[name]:
            stmt.execute({"$1": k}).collect()
        compiles[name] = metric.METRIC_COMPILATION_TIME().getCount() - before
        stmt.close()
    assert compiles == dict.fromkeys(keys, 0)


def test_gate_keeps_results(engine, layout, testdata, monkeypatch):
    gated = _four(engine)
    monkeypatch.setattr(sp, "_INTERP_MAX_SCAN_ROWS", 0)
    compiled = _four(engine)
    for name, stmt in gated.items():
        assert stmt.interpreted and not compiled[name].interpreted, name
        for k in (1, 7, 42, 10**9):  # incl. a key matching nothing
            want = sorted(compiled[name].execute({"$1": k}).collect(), key=repr)
            assert sorted(stmt.execute({"$1": k}).collect(), key=repr) == want, (name, k)
        stmt.close()
        compiled[name].close()


_CONFS = {
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.codegen.factoryMode": "FALLBACK",
    "spark.sql.constraintPropagation.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10MB",
    "spark.sql.shuffle.partitions": "200",
}


def test_user_session_conf_untouched(engine, testdata):
    before = {k: engine.spark.conf.get(k, d) for k, d in _CONFS.items()}
    for sql, hot, mode in ((SQL, True, "dynamic"), (ROLLUP_SQL, False, "literal")):
        stmt = engine.prepare(sql, hot=hot, layout=False)
        assert stmt.mode == mode and stmt.interpreted
        own = stmt._template.spark if stmt._template else stmt._session
        assert own.conf.get("spark.sql.adaptive.enabled") == "false"  # single stage
        stmt.execute({"$1": 5}).collect()
        assert {k: engine.spark.conf.get(k, d) for k, d in _CONFS.items()} == before, mode
        stmt.close()


def test_literal_query_reads_views_as_prepared(engine, testdata):
    spark = engine.spark
    spark.sql("SELECT * FROM VALUES (1), (2) AS t(x)").createOrReplaceTempView("lit_v")
    sql = "SELECT x, count(*) AS n FROM lit_v WHERE x >= $1 GROUP BY ROLLUP(x)"
    stmt = engine.prepare(sql)
    assert stmt.mode == "literal"
    spark.sql("SELECT * FROM VALUES (10), (20) AS t(x)").createOrReplaceTempView("lit_v")
    assert set(stmt.execute({"$1": 0}).collect()) == {(None, 2), (1, 1), (2, 1)}
    assert set(engine.prepare(sql).execute({"$1": 0}).collect()) == {(None, 2), (10, 1), (20, 1)}
    spark.catalog.dropTempView("lit_v")


def test_non_query_acts_on_the_callers_session(engine):
    spark = engine.spark
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("lit_drop_v")
    stmt = engine.prepare("DROP VIEW IF EXISTS lit_drop_v")
    assert stmt.mode == "literal" and not stmt.interpreted
    stmt.execute()
    assert not spark.catalog.tableExists("lit_drop_v")

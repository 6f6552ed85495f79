"""Parity tests with the reference's in-memory integration suite
(tests/preparable_context_basic_test.rs) — same fixture rows, same
assertions, reference file:line cited per test."""

import pytest

from datafusion_dynamic_filter_spark.errors import ParameterError, PrepareError
from datafusion_dynamic_filter_spark.prepared import PreparedStatement


def test_prepare_point_lookup_charlie(engine, users):
    # reference :68-103 — id=3 -> charlie/300
    stmt = engine.prepare("SELECT id, name, amount FROM users WHERE id = $1")
    assert stmt.mode == "dynamic" and stmt.fallback_reason is None
    rows = stmt.execute({"$1": 3}).collect()
    assert len(rows) == 1
    assert rows[0].id == 3 and rows[0].name == "charlie" and rows[0].amount == 300


def test_two_executions_one_statement(engine, users):
    # reference :106-145 — ids 1 then 5 on the SAME statement
    stmt = engine.prepare("SELECT id, name, amount FROM users WHERE id = $1")
    r1 = stmt.execute({"$1": 1}).collect()
    r2 = stmt.execute({"$1": 5}).collect()
    assert [(r.id, r.name) for r in r1] == [(1, "alice")]
    assert [(r.id, r.name) for r in r2] == [(5, "eve")]
    assert stmt.executions == 2


def test_string_param(engine, users):
    # reference :148-183 — name = 'bob' -> id 2
    stmt = engine.prepare("SELECT id, name FROM users WHERE name = $1")
    rows = stmt.execute({"$1": "bob"}).collect()
    assert [(r.id, r.name) for r in rows] == [(2, "bob")]


def test_range_two_params(engine, users):
    # reference :186-218 — id >= 2 AND id <= 4 -> 3 rows
    stmt = engine.prepare("SELECT id FROM users WHERE id >= $1 AND id <= $2")
    rows = stmt.execute({"$1": 2, "$2": 4}).collect()
    assert sorted(r.id for r in rows) == [2, 3, 4]


def test_empty_result_not_error(engine, users):
    # reference :221-241 — no match -> empty, not error
    stmt = engine.prepare("SELECT id FROM users WHERE id = $1")
    assert stmt.execute({"$1": 999}).collect() == []


def test_projection_single_column(engine, users):
    # reference :244-273 — SELECT name, id=4 -> diana, exactly 1 column
    stmt = engine.prepare("SELECT name FROM users WHERE id = $1")
    df = stmt.execute({"$1": 4})
    assert df.columns == ["name"]
    assert [r.name for r in df.collect()] == ["diana"]


def test_count_star(engine, users):
    # reference :276-303 — COUNT(*) WHERE id >= 3 -> 3 as LongType (Int64)
    stmt = engine.prepare('SELECT COUNT(*) as count FROM users WHERE id >= $1')
    df = stmt.execute({"$1": 3})
    assert df.schema["count"].dataType.typeName() == "long"
    assert df.collect()[0]["count"] == 3


def test_constant_select_preparable(engine):
    # reference :60-65 — prepare("SELECT 1") works
    stmt = engine.prepare("SELECT 1 AS one")
    assert stmt.execute({}).collect()[0].one == 1


def test_missing_param_error_message(engine, users):
    # reference src/param_resolver.rs:156-168
    stmt = engine.prepare("SELECT id FROM users WHERE id = $1")
    with pytest.raises(ParameterError, match=r"Placeholder '\$1' was not provided a value"):
        stmt.execute({})


def test_ddl_rejected(engine):
    # reference src/preparable_context.rs:18-28 — exact message, and ONLY
    # CreateMemoryTable / CreateIndex are rejected
    with pytest.raises(PrepareError, match="^Cannot prepare DDL statement$"):
        engine.prepare("CREATE TABLE t AS SELECT 1")
    with pytest.raises(PrepareError, match="^Cannot prepare DDL statement$"):
        engine.prepare("CREATE INDEX idx ON t(x)")
    # A leading comment or paren does not hide the statement kind.
    with pytest.raises(PrepareError, match="^Cannot prepare DDL statement$"):
        engine.prepare("-- note\nCREATE TABLE t2 (a INT)")
    with pytest.raises(PrepareError, match="^Cannot prepare DDL statement$"):
        engine.prepare("/* x */ CREATE INDEX idx ON t(x)")
    # A misspelt mode is rejected at prepare too, not taken as "literal".
    with pytest.raises(ValueError, match="mode must be"):
        engine.prepare("SELECT 1 AS one", mode="dyanmic")


def test_non_ddl_statements_forwarded(engine, users):
    # reference src/preparable_context.rs:15-30: every statement kind other
    # than CreateMemoryTable/CreateIndex is forwarded to the planner, which
    # may fail later for its own reasons — but NOT with the DDL guard error.
    stmt = engine.prepare("DELETE FROM users WHERE id = $1")
    assert stmt.mode == "literal"
    assert stmt.fallback_reason == "not a query"
    with pytest.raises(Exception) as exc_info:
        stmt.execute({"p1": 1}).collect()
    assert not isinstance(exc_info.value, PrepareError)


def test_list_param_cache_key_hashable(engine, users):
    # A list-valued IN-list param is part of the plan-cache key, so the key
    # must be hashable; the second execute takes the cache-hit path.
    stmt = engine.prepare("SELECT id FROM users WHERE id IN $1")
    rows = stmt.execute({"$1": [1, 3]}).collect()
    assert sorted(r.id for r in rows) == [1, 3]
    rows2 = stmt.execute({"$1": [1, 3]}).collect()  # cache hit path
    assert sorted(r.id for r in rows2) == [1, 3]


def test_groupby_without_aggregate_falls_back(engine, users):
    # SELECT a FROM t GROUP BY a (no aggregate) binds on the dynamic path,
    # and its batches take the per-row LATERAL form.
    stmt = engine.prepare("SELECT name FROM users WHERE id >= $1 GROUP BY name")
    assert stmt.mode == "dynamic" and stmt._template.batch_form == "lateral"
    rows = stmt.execute({"$1": 4}).collect()
    assert sorted(r.name for r in rows) == ["diana", "eve"]
    batch = stmt.execute_batch([[4], [5]]).collect()
    assert sorted(r.name for r in batch) == ["diana", "eve", "eve"]


def test_execute_batch_aggregating_per_row_semantics(engine, users):
    # An aggregating statement yields one result per parameter row (the
    # union of per-row results), never one global aggregate over all keys.
    stmt = engine.prepare("SELECT COUNT(*) AS n FROM users WHERE id >= $1")
    df = stmt.execute_batch([[4], [5], [4]])  # duplicate row binds once
    counts = sorted(r.n for r in df.collect())
    assert counts == [1, 2]


def test_execute_batch_dedupes_param_rows(engine, users):
    stmt = engine.prepare("SELECT id, name FROM users WHERE id = $1")
    df = stmt.execute_batch([[2], [2], [3]])
    assert sorted((r.id, r.name) for r in df.collect()) == [(2, "bob"), (3, "charlie")]


def test_named_and_positional_spellings(engine, users):
    stmt = engine.prepare("SELECT id FROM users WHERE id = :key")
    assert [r.id for r in stmt.execute({"key": 2}).collect()] == [2]
    stmt2 = engine.prepare("SELECT id FROM users WHERE id = ?")
    assert [r.id for r in stmt2.execute([3]).collect()] == [3]
    # positional list binds $1, $2 in order
    stmt3 = engine.prepare("SELECT id FROM users WHERE id >= $1 AND id <= $2")
    assert sorted(r.id for r in stmt3.execute([2, 3]).collect()) == [2, 3]


def test_or_and_nested_predicates(engine, users):
    # reference src/rule.rs:174-192 exercises `id = $1 OR name = 'test'`
    stmt = engine.prepare("SELECT id FROM users WHERE id = $1 OR name = 'eve'")
    assert sorted(r.id for r in stmt.execute({"$1": 1}).collect()) == [1, 5]
    stmt2 = engine.prepare("SELECT id FROM users WHERE id > $1 AND id < $2")
    assert [r.id for r in stmt2.execute({"$1": 2, "$2": 4}).collect()] == [3]


def test_reset(engine, users):
    stmt = engine.prepare("SELECT id FROM users WHERE id = $1")
    stmt.execute({"$1": 1})
    stmt.reset()
    assert stmt.executions == 0
    assert [r.id for r in stmt.execute({"$1": 2}).collect()] == [2]


def test_execute_batch_semi_join(engine, users):
    # IN-list analog (reference README.md:46-51)
    stmt = engine.prepare("SELECT id, name FROM users WHERE id = $1")
    rows = stmt.execute_batch([{"$1": 1}, {"$1": 3}, {"$1": 5}]).collect()
    assert sorted(r.id for r in rows) == [1, 3, 5]


def test_join_statement_takes_fast_path(engine, users):
    # Joins are inside the fast-path grammar (round 2): template mode.
    stmt = engine.prepare(
        "SELECT u.id, u.name FROM users u JOIN users v ON u.id = v.id WHERE u.id = $1"
    )
    assert stmt.mode == "dynamic"
    rows = stmt.execute({"$1": 4}).collect()
    assert [(r.id, r.name) for r in rows] == [(4, "diana")]


def test_setops_take_fast_path_since_r5(engine, users):
    # Set-op chains joined the fast-path grammar in r5: one template,
    # one branch per SELECT.
    stmt = engine.prepare(
        "SELECT id FROM users WHERE id = $1 UNION ALL SELECT id FROM users WHERE id = $1"
    )
    assert stmt.mode == "dynamic"
    rows = stmt.execute({"$1": 4}).collect()
    assert [r.id for r in rows] == [4, 4]


def test_window_fn_select_item_works_on_fast_path(engine, users):
    # Window expressions in the SELECT list ride the template: F.expr
    # resolves OVER clauses, and the window evaluates over the FILTERED
    # rows — exactly SQL's evaluation order.
    stmt = engine.prepare(
        "SELECT id, row_number() OVER (ORDER BY id) AS rn "
        "FROM users WHERE id >= $1"
    )
    assert stmt.mode == "dynamic"
    rows = stmt.execute({"$1": 4}).collect()
    assert [(r.id, r.rn) for r in rows] == [(4, 1), (5, 2)]


def test_literal_mode_fallback_exists_subquery(engine, users):
    # A parameterized EXISTS subquery has no batch form: the IN form's
    # subquery would sit inside the EXISTS, and the LATERAL form needs a
    # two-level correlation Spark rejects.  The statement falls to the
    # literal path with Spark's error as the reason — and still prepares +
    # executes correctly there.
    stmt = engine.prepare(
        "SELECT id FROM users u WHERE EXISTS "
        "(SELECT 1 FROM users v WHERE v.id = u.id AND v.id = $1)"
    )
    assert stmt.mode == "literal"
    assert "UNRESOLVED_COLUMN" in stmt.fallback_reason
    assert [r.id for r in stmt.execute({"$1": 3}).collect()] == [3]


def test_string_escaping_safe(engine, users):
    stmt = engine.prepare("SELECT id FROM users WHERE name = $1")
    # quote + backslash must not break the bound filter, nor match anything
    assert stmt.execute({"$1": "o'brien \\ x"}).collect() == []


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT id FROM users WHERE id = $1",
        # a leading comment or paren still classifies the statement as a
        # query (validated and plan-cached)
        "-- c\nSELECT id FROM users WHERE id = $1",
        "(SELECT id FROM users WHERE id = $1)",
    ],
)
def test_plan_cache_hit(engine, users, sql):
    stmt = engine.prepare(sql)
    d1 = stmt.execute({"$1": 1})
    d2 = stmt.execute({"$1": 1})
    assert d1 is d2  # repeated key returns the cached DataFrame


def test_plan_cache_lru_eviction_preserves_results(engine, users):
    # The per-statement plan cache is a bounded LRU (r5 verdict: unbounded
    # growth per distinct key is a driver leak in the service regime).
    # With cap=2, a third distinct key evicts the LEAST-recently-used entry;
    # an evicted key re-executes with identical results.
    stmt = engine.prepare(
        "SELECT id, name FROM users WHERE id = $1", plan_cache_size=2
    )
    d1 = stmt.execute({"$1": 1})
    stmt.execute({"$1": 2})
    d1_again = stmt.execute({"$1": 1})  # touch key 1 -> key 2 is now LRU
    assert d1_again is d1
    stmt.execute({"$1": 3})  # evicts key 2
    assert len(stmt._plan_cache) == 2
    # evicted key re-binds: a NEW DataFrame, same result
    d2_rebound = stmt.execute({"$1": 2})
    assert [(r.id, r.name) for r in d2_rebound.collect()] == [(2, "bob")]
    # key 1 survived both evictions (it was most-recently-used)
    rows = stmt.execute({"$1": 1}).collect()
    assert [(r.id, r.name) for r in rows] == [(1, "alice")]


def test_plan_cache_shared_by_threads(engine):
    # One statement, 8 threads, 5 keys through a 2-entry cache: keys 1 and
    # 2 hit, keys 3-5 miss and evict.  A hit waits (briefly) for another
    # thread's eviction before moving its key to the LRU end, so without a
    # lock over both steps an evicted key raises KeyError.
    import sys
    import threading
    from collections import OrderedDict
    from concurrent.futures import ThreadPoolExecutor

    class RacyCache(OrderedDict):
        evicted = threading.Event()

        def get(self, key, default=None):
            out = super().get(key, default)
            if out is not None:
                self.evicted.clear()
                self.evicted.wait(0.02)
            return out

        def popitem(self, last=True):
            self.evicted.set()
            return super().popitem(last)

    # a VALUES view: a bound lookup plans to a LocalRelation and collects
    # without a job
    engine.spark.sql("CREATE OR REPLACE TEMP VIEW cache_race AS SELECT * FROM VALUES "
                     "(1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e') AS t(id, name)")
    stmt = engine.prepare("SELECT id, name FROM cache_race WHERE id = $1", plan_cache_size=2)
    want = {k: stmt.execute([k]).collect() for k in range(1, 6)}
    stmt.reset()
    stmt._plan_cache = RacyCache()
    keys = [[3 + (i + j) % 3 if j % 4 == 3 else 1 + (i + j) % 2 for j in range(20)]
            for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda ks: [(k, stmt.execute([k]).collect()) for k in ks], keys))
    finally:
        sys.setswitchinterval(switch)
    assert all(rows == want[k] for per_thread in got for k, rows in per_thread)
    assert len(stmt._plan_cache) <= 2
    assert stmt.executions == 8 * 20


@pytest.mark.parametrize("sql,mode,hot,form", [
    ("SELECT id, name FROM users WHERE id = $1", "auto", False, "in"),
    ("SELECT count(*) AS n, max(amount) AS top FROM users WHERE id = $1", "auto", False,
     "lateral"),
    ("SELECT id, name FROM users WHERE id = $1", "literal", False, None),
    # a LIMIT without ORDER BY: no batch form, the per-row union
    ("SELECT id, name FROM users WHERE id >= $1 LIMIT 1", "auto", True, None),
])
def test_execute_batch_of_no_rows(engine, users, sql, mode, hot, form):
    stmt = engine.prepare(sql, mode=mode, hot=hot)
    assert stmt.mode == ("literal" if mode == "literal" else "dynamic")
    assert getattr(stmt._template, "batch_form", None) == form
    df = stmt.execute_batch([])
    assert df.collect() == []
    assert df.columns == stmt.execute([1]).columns
    stmt.close()


def test_dml_repeat_execute_not_cached(engine, spark, tmp_path):
    # A repeat execute() with equal params must RE-RUN side-effecting
    # statements: spark.sql() executes DML eagerly, so serving the cached
    # DataFrame would silently skip the second INSERT.
    spark.sql(
        f"CREATE TABLE dml_sink (k INT) USING parquet LOCATION '{tmp_path}/dml_sink'"
    )
    try:
        stmt = engine.prepare("INSERT INTO dml_sink VALUES (:k)")
        stmt.execute({"k": 7})
        stmt.execute({"k": 7})  # equal params — must still insert again
        assert stmt.execute_batch([]).collect() == []  # and no rows insert nothing
        assert spark.table("dml_sink").count() == 2
        assert stmt.executions == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS dml_sink")


def test_bind_data_generated_code_key_independent(engine, users):
    # The point of binding a batch as data: no key literal in the physical
    # plan, so the generated code / plan shape is identical across keys.
    import re

    stmt = engine.prepare("SELECT id, name FROM users WHERE id = $1")
    def norm(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", s))
    p1 = norm(stmt.execute_batch([[1]]))
    p2 = norm(stmt.execute_batch([[5]]))
    assert p1 == p2
    assert "1" not in p1 or "5" not in p2  # keys are data, not plan text


def test_window_cte_template_takes_fast_path(engine, users):
    # r7 grammar reach-check: a CTE whose body computes a window function,
    # with BOTH placeholders in the outer WHERE (one against the window
    # column) — the prepared_window_topk_template shape.  The window plans
    # once at prepare; binding stays on the dynamic fast path.
    stmt = engine.prepare(
        "WITH ranked AS (SELECT id, name, "
        "row_number() OVER (ORDER BY id DESC) AS rnk FROM users) "
        "SELECT id, rnk FROM ranked WHERE rnk <= $1 AND id >= $2"
    )
    assert stmt.mode == "dynamic"
    rows = stmt.execute({"$1": 2, "$2": 0}).collect()
    assert sorted((r.id, r.rnk) for r in rows) == [(4, 2), (5, 1)]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT id, 'it''s, ok' AS s FROM users WHERE id = $1",
        "SELECT id, name AS `from` FROM users WHERE id = $1",
        "SELECT id, name -- , amount\n FROM users WHERE id = $1",
        "SELECT u.id, t.tag FROM users u JOIN user_tags t "
        "ON u.id = t.id AND t.tag <> 'x JOIN y' WHERE u.id = $1",
    ],
)
def test_quoted_and_commented_text_keeps_fast_path(engine, users, sql):
    # Commas and keywords inside strings, quoted identifiers and comments
    # are not clause boundaries: these statements compile to templates and
    # return exactly the literal path's rows.
    engine.register_memtable(
        "user_tags", [(1, "a"), (2, "x JOIN y"), (3, "b")], "id int, tag string"
    )
    stmt = engine.prepare(sql)
    lit = engine.prepare(sql, mode="literal")
    assert stmt.mode == "dynamic" and stmt.fallback_reason is None
    for k in (1, 2, 3, 9):
        got = sorted(tuple(r) for r in stmt.execute({"$1": k}).collect())
        assert got == sorted(tuple(r) for r in lit.execute({"$1": k}).collect()), k


def test_trial_failures_stay_out_of_the_error_log(engine, testdata):
    # PySpark logs every analysis error with a SQL context at ERROR, with
    # the JVM stack.  A ROLLUP statement fails its LATERAL trial and takes
    # the literal path quietly; an unknown column is still logged.
    import logging

    from pyspark.logger import PySparkLogger

    records, handler = [], logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    logger.addHandler(handler)
    try:
        stmt = engine.prepare(
            "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top "
            "FROM orders WHERE o_orderkey BETWEEN $1 AND $1 + 9 "
            "GROUP BY ROLLUP(o_orderpriority)")
        assert stmt.mode == "literal" and records == []
        with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
            engine.prepare("SELECT no_such_column FROM orders WHERE o_orderkey = $1")
        assert records
    finally:
        logger.removeHandler(handler)

"""Property-based equivalence of the prepared fast path: for randomized
fast-path statements and parameter values, the compiled-template execution
must return exactly the rows of the same SQL with literals inlined (ground
truth via spark.sql).  Spark parses and binds every execute, so what this
guards is what the template decides on its own: the plan facts read off
its trial analysis (which placeholder comparisons are top-level WHERE
conjuncts over a scan, driving codegen policy, layout adoption and bucket
pruning) and the batch form (IN list, LATERAL, or per-row union), where a
wrong decision returns silently wrong rows.

Kept fast: one shared engine/table, bounded example counts, no per-example
Spark session work beyond the two queries.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# DDF_FUZZ_EXAMPLES=<n> overrides every family's example count — the knob
# for one-off deep fuzz passes (suite default stays fast).
_DEEP = int(os.environ.get("DDF_FUZZ_EXAMPLES", "0"))


def _ex(default: int) -> int:
    return _DEEP or default

ROWS = [
    (i, name, float(v) if v is not None else None)
    for i, (name, v) in enumerate(
        [
            ("O'Brien", -3),
            ("rock AND roll", 0),
            ("a b", 7),
            ("plain", 7),
            (None, 12),
            ("x", None),
            ("O'Brien", 20),
            ("plain", -1),
            ("this OR that", 5),
            ("back\\slash", 2),
        ]
        * 3  # duplicate key values so eq/IN hit multiple rows
    )
]

_INTS = st.sampled_from([-1, 0, 1, 2, 5, 7, 12, 19, 25, 100])
_STRINGS = st.sampled_from(
    ["O'Brien", "rock AND roll", "plain", "nope", "a b", "back\\slash"]
)
_FLOATS = st.sampled_from([-3.0, 0.0, 5.0, 7.0, 12.5, 99.0])


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return repr(v)


# One conjunct = (template_text_fn, value_strategy, column).  Each draws its
# own value; placeholders are numbered at statement-assembly time.
_CONJUNCTS = st.sampled_from(
    [
        ("id = {p}", _INTS),
        ("name = {p}", _STRINGS),
        ("val >= {p}", _FLOATS),
        ("val <= {p}", _FLOATS),
        ("id IN {p}", st.lists(_INTS, min_size=1, max_size=4)),
        ("val > 0", None),  # static conjunct
        ("name = 'rock AND roll'", None),  # static with AND inside literal
    ]
)


@st.composite
def statements(draw):
    """(sql_with_placeholders, params_dict, sql_with_literals)."""
    n = draw(st.integers(min_value=1, max_value=3))
    conjs = [draw(_CONJUNCTS) for _ in range(n)]
    use_or = draw(st.booleans()) and n >= 2
    params: dict[str, object] = {}
    tmpl_parts, lit_parts = [], []
    for shape, strat in conjs:
        if strat is None:
            tmpl_parts.append(shape)
            lit_parts.append(shape)
            continue
        v = draw(strat)
        idx = len(params) + 1
        params[f"${idx}"] = v
        tmpl_parts.append(shape.format(p=f"${idx}"))
        if isinstance(v, list):
            lit_parts.append(
                shape.format(p="(" + ", ".join(_sql_literal(x) for x in v) + ")")
            )
        else:
            lit_parts.append(shape.format(p=_sql_literal(v)))
    joiner = " OR " if use_or else " AND "
    distinct = "DISTINCT " if draw(st.booleans()) else ""
    proj = draw(st.sampled_from(["id, name, val", "id", "name, val"]))
    # Optional ORDER BY over a TOTAL order (every projected column) plus
    # LIMIT — covers the order_cols/limit template paths; the total order
    # keeps LIMIT-truncation deterministic despite duplicate ids.
    tail = ""
    if draw(st.booleans()):
        tail = f" ORDER BY {proj} LIMIT {draw(st.sampled_from([1, 3, 7]))}"
    base = "SELECT {}{} FROM prop_table WHERE {}{}"
    return (
        base.format(distinct, proj, joiner.join(tmpl_parts), tail),
        params,
        base.format(distinct, proj, joiner.join(lit_parts), tail),
    )


def _key(row):
    return tuple((v is None, v) for v in row)


def _setup(engine):
    if not hasattr(_setup, "done"):
        engine.register_memtable(
            "prop_table", ROWS, "id int, name string, val double"
        )
        _setup.done = True


@settings(
    max_examples=_ex(25),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmt=statements())
def test_template_matches_literal_sql(engine, stmt):
    _setup(engine)
    sql, params, lit_sql = stmt
    prepared = engine.prepare(sql)
    got = sorted((tuple(r) for r in prepared.execute(params).collect()), key=_key)
    want = sorted((tuple(r) for r in engine.spark.sql(lit_sql).collect()), key=_key)
    assert got == want, (sql, params, prepared.mode)


@st.composite
def grouped_statements(draw):
    """Aggregating fast-path statements: WHERE + GROUP BY + optional
    parameterized HAVING.  (Sums stay float-exact because the val pool is
    integral-valued, so template-vs-literal equality is bitwise.)"""
    shape, strat = draw(
        st.sampled_from(
            [
                ("id >= {p}", _INTS),
                ("val <= {p}", _FLOATS),
                ("name = {p}", _STRINGS),
            ]
        )
    )
    v = draw(strat)
    params = {"$1": v}
    where_t = shape.format(p="$1")
    where_l = shape.format(p=_sql_literal(v))
    having_t = having_l = ""
    if draw(st.booleans()):
        hv = draw(st.sampled_from([1, 2, 5]))
        params["$2"] = hv
        having_t = " HAVING count(*) >= $2"
        having_l = f" HAVING count(*) >= {hv}"
    base = (
        "SELECT name, count(*) AS n_rows, round(sum(val), 2) AS s "
        "FROM prop_table WHERE {} GROUP BY name{}"
    )
    return base.format(where_t, having_t), params, base.format(where_l, having_l)


@settings(
    max_examples=_ex(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmt=grouped_statements())
def test_grouped_template_matches_literal_sql(engine, stmt):
    _setup(engine)
    sql, params, lit_sql = stmt
    prepared = engine.prepare(sql)
    got = sorted((tuple(r) for r in prepared.execute(params).collect()), key=_key)
    want = sorted((tuple(r) for r in engine.spark.sql(lit_sql).collect()), key=_key)
    assert got == want, (sql, params, prepared.mode)


@st.composite
def cte_statements(draw):
    """CTE templates: a static WITH body resolved at prepare time, outer
    SELECT parameterized — the r5 grammar extension."""
    thr = draw(st.sampled_from([-5.0, 0.0, 5.0, 100.0]))
    shape, strat = draw(
        st.sampled_from([("id = {p}", _INTS), ("name = {p}", _STRINGS)])
    )
    v = draw(strat)
    base = (
        "WITH sub AS (SELECT id, name, val FROM prop_table WHERE val > {t}) "
        "SELECT id, name FROM sub WHERE {w}"
    )
    return (
        base.format(t=thr, w=shape.format(p="$1")),
        {"$1": v},
        base.format(t=thr, w=shape.format(p=_sql_literal(v))),
    )


@settings(
    max_examples=_ex(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmt=cte_statements())
def test_cte_template_matches_literal_sql(engine, stmt):
    _setup(engine)
    sql, params, lit_sql = stmt
    prepared = engine.prepare(sql)
    got = sorted((tuple(r) for r in prepared.execute(params).collect()), key=_key)
    want = sorted((tuple(r) for r in engine.spark.sql(lit_sql).collect()), key=_key)
    assert got == want, (sql, params, prepared.mode)


B_ROWS = [
    (i % 12, f"tag{i % 4}", float(i))
    for i in range(30)
]


def _setup_join(engine):
    if not hasattr(_setup_join, "done"):
        engine.register_memtable(
            "prop_b", B_ROWS, "id int, tag string, score double"
        )
        _setup_join.done = True


@st.composite
def join_statements(draw):
    """JOIN templates: parameterized WHERE on an alias-qualified column of
    either side — exercises the hand-rolled side resolution and the
    broadcast hint on the point-filtered side."""
    how = draw(st.sampled_from(["JOIN", "LEFT JOIN", "LEFT SEMI JOIN"]))
    proj = (
        "a.id, name"
        if how == "LEFT SEMI JOIN"
        else draw(st.sampled_from(["a.id, name, tag", "a.id, score"]))
    )
    side_col = draw(st.sampled_from(["a.id", "b.id"] if how == "JOIN" else ["a.id"]))
    v1, v2 = draw(_INTS), draw(_INTS)
    base = (
        f"SELECT {proj} FROM prop_table a {how} prop_b b ON a.id = b.id "
        f"WHERE {side_col} = {{p}}"
    )
    return base.format(p="$1"), [{"$1": v1}, {"$1": v2}], base.format(p=str(v1)), base.format(p=str(v2))


@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmt=join_statements())
def test_join_template_matches_literal_sql(engine, stmt):
    """Two executions per statement (different keys) so the per-key rebind
    over one compiled join template is what's exercised, not just the
    first bind."""
    _setup(engine)
    _setup_join(engine)
    sql, param_sets, lit1, lit2 = stmt
    prepared = engine.prepare(sql)
    for params, lit in zip(param_sets, (lit1, lit2)):
        got = sorted(
            (tuple(r) for r in prepared.execute(params).collect()), key=_key
        )
        want = sorted((tuple(r) for r in engine.spark.sql(lit).collect()), key=_key)
        assert got == want, (sql, params, prepared.mode)


# Batch shapes: a plain equality lookup plus every shape whose per-row
# semantics a single batched semi-join could break (LIMIT truncates,
# DISTINCT dedupes and a window numbers rows ACROSS parameter rows) or must
# preserve (ORDER BY, UNION ALL of two equality branches).
_PLAIN, _LIMIT, _DISTINCT, _WINDOW, _ORDER, _UNION_ALL = (
    "SELECT id, name, val FROM prop_table WHERE id = $1",
    "SELECT id, name, val FROM prop_table WHERE id = $1 LIMIT 1",
    "SELECT DISTINCT name FROM prop_table WHERE id = $1",
    "SELECT id, row_number() OVER (ORDER BY id) AS rn "
    "FROM prop_table WHERE id = $1",
    "SELECT id, name, val FROM prop_table WHERE id = $1 ORDER BY val",
    "SELECT id, name FROM prop_table WHERE id = $1 "
    "UNION ALL SELECT id, name FROM prop_table WHERE val > 0 AND id = $1",
)


@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sql=st.sampled_from([_PLAIN, _LIMIT, _DISTINCT, _WINDOW, _ORDER, _UNION_ALL]),
    keys=st.lists(_INTS, min_size=1, max_size=6),
)
# Keys 2 and 12 share a name, so these always cross parameter rows.
@example(sql=_LIMIT, keys=[1, 2])
@example(sql=_DISTINCT, keys=[2, 12])
@example(sql=_WINDOW, keys=[1, 2])
# Two rows binding the same $1: the union holds the id = 1 row twice.
@example(
    sql="SELECT id, name FROM users WHERE id = $1 "
    "UNION ALL SELECT id, name FROM users WHERE id = $2",
    keys=[(1, 2), (1, 3)],
)
# $2's comparison sits inside an OR: only $1 is a top-level conjunct, so
# matching (id, amount) pairs would drop the amount > 300 rows.
@example(
    sql="SELECT id, name FROM users WHERE id = $1 AND (amount = $2 OR amount > 300)",
    keys=[(4, 1), (1, 100)],
)
def test_execute_batch_is_union_of_singles(engine, users, sql, keys):
    """Batch semantics: N parameter rows through one execute_batch equal the
    UNION ALL of per-row executions (duplicate parameter rows contribute
    once).  A key is one parameter row's $1, or a tuple of $1, $2, ..."""
    _setup(engine)
    rows = [list(k) if isinstance(k, tuple) else [k] for k in keys]
    stmt = engine.prepare(sql)
    got = sorted(
        (tuple(r) for r in stmt.execute_batch(rows).collect()),
        key=_key,
    )
    want = []
    for row in dict.fromkeys(map(tuple, rows)):
        lit = sql
        for i, v in enumerate(row, start=1):
            lit = lit.replace(f"${i}", str(v))
        want.extend(tuple(r) for r in engine.spark.sql(lit).collect())
    assert got == sorted(want, key=_key), (sql, keys)


def test_hot_limit_statement_keeps_template(engine):
    """A LIMIT without ORDER BY has no batch form (the rows it keeps are
    arbitrary), but the statement keeps its template: pinned, dynamic, and
    its batch unions per-row template executes."""
    _setup(engine)
    stmt = engine.prepare(_LIMIT, hot=True)
    try:
        t = stmt._template
        assert stmt.mode == "dynamic" and t.batch_form is None
        assert list(t.pinned) == ["prop_table"]
        got = sorted(map(tuple, stmt.execute_batch([[1], [2]]).collect()), key=_key)
        want = [tuple(r) for k in (1, 2) for r in stmt.execute([k]).collect()]
        assert got == sorted(want, key=_key)
    finally:
        stmt.close()


@st.composite
def grouped_batch_cases(draw):
    """GROUP BY equality templates + a parameter batch (duplicates and
    zero-match values included): execute_batch must equal the concatenation
    of per-DISTINCT-row literal executions (the union semantics the grouped
    fast path recomputes as one IN-list scan + one aggregation)."""
    col, strat = draw(
        st.sampled_from([("id", _INTS), ("name", _STRINGS), ("val", _FLOATS)])
    )
    group = draw(st.sampled_from(["name", "id"]))
    having = draw(st.sampled_from(["", " HAVING count(*) >= 2"]))
    sql = (
        f"SELECT {group}, count(*) AS n_rows, round(sum(val), 2) AS s "
        f"FROM prop_table WHERE {col} = $1 GROUP BY {group}{having}"
    )
    vals = draw(st.lists(strat, min_size=1, max_size=5))
    # the IN form when grouped by the compared column, else LATERAL
    return sql, vals, "in" if group == col else "lateral"


@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=grouped_batch_cases())
def test_grouped_batch_matches_per_row_literal(engine, case):
    _setup(engine)
    sql, vals, form = case
    prepared = engine.prepare(sql)
    assert prepared._template.batch_form == form
    batched = sorted(
        (tuple(r) for r in prepared.execute_batch([[v] for v in vals]).collect()),
        key=_key,
    )
    want = []
    for v in dict.fromkeys(vals):  # execute_batch dedups parameter rows
        want.extend(
            tuple(r)
            for r in engine.spark.sql(sql.replace("$1", _sql_literal(v))).collect()
        )
    assert batched == sorted(want, key=_key), (sql, vals)


@st.composite
def union_statements(draw):
    """Top-level UNION [ALL] of two fast-path branches (r5 grammar
    extension): template execution must match the literal SQL, including
    DISTINCT-fold dedupe and shared placeholders across branches."""
    parts_t, parts_l, params = [], [], {}
    for _ in range(2):
        shape, strat = draw(
            st.sampled_from(
                [
                    ("id = {p}", _INTS),
                    ("name = {p}", _STRINGS),
                    ("val >= {p}", _FLOATS),
                    ("id IN {p}", st.lists(_INTS, min_size=1, max_size=3)),
                ]
            )
        )
        v = draw(strat)
        idx = len(params) + 1
        params[f"${idx}"] = v
        parts_t.append(shape.format(p=f"${idx}"))
        if isinstance(v, list):
            parts_l.append(
                shape.format(p="(" + ", ".join(_sql_literal(x) for x in v) + ")")
            )
        else:
            parts_l.append(shape.format(p=_sql_literal(v)))
    op = draw(
        st.sampled_from(
            [
                " UNION ALL ",
                " UNION ",
                " INTERSECT ",
                " INTERSECT ALL ",
                " EXCEPT ",
                " EXCEPT ALL ",
            ]
        )
    )
    proj = "id, name"
    tail = ""
    if draw(st.booleans()):
        tail = f" ORDER BY id, name LIMIT {draw(st.sampled_from([2, 5]))}"
    base = "SELECT {p} FROM prop_table WHERE {w0}{op}SELECT {p} FROM prop_table WHERE {w1}{t}"
    return (
        base.format(p=proj, w0=parts_t[0], w1=parts_t[1], op=op, t=tail),
        params,
        base.format(p=proj, w0=parts_l[0], w1=parts_l[1], op=op, t=tail),
    )


@settings(
    max_examples=_ex(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stmt=union_statements())
def test_union_template_matches_literal_sql(engine, stmt):
    _setup(engine)
    sql, params, lit_sql = stmt
    prepared = engine.prepare(sql)
    got = sorted((tuple(r) for r in prepared.execute(params).collect()), key=_key)
    want = sorted((tuple(r) for r in engine.spark.sql(lit_sql).collect()), key=_key)
    assert got == want, (sql, params, prepared.mode)

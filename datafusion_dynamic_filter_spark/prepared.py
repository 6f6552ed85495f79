"""PreparedStatement — the core capability of the reference, re-expressed
Spark-first.

Reference semantics reproduced (SURVEY.md §2 Tier A):

- ``prepare(sql)`` validates once: placeholder scan, DDL rejection
  (src/preparable_context.rs:18-28), and a typed-NULL pre-binding analysis
  pass (the analog of src/physical.rs:94-140's placeholder pre-binding).
- ``execute(params)`` binds per-execution; missing params raise
  "Placeholder '$N' was not provided a value for execution"
  (src/param_resolver.rs:90-93); a value matching no rows returns an empty
  DataFrame, not an error (tests/preparable_context_basic_test.rs:221-241).
- ``reset()`` clears per-statement cached state
  (src/physical.rs:162-179 reset_state).

Execution strategies (why, not a port of DynamicFilterExec):

- ``dynamic`` (fast path): the statement compiles at prepare time to ONE
  ``simple_parser.CompiledTemplate`` — a private cloned session carrying
  the codegen policy and the table views (point layout, hot pin), plus the
  batch form.  Each execute is ``session.sql(canonical_sql, args=bound)``
  on that session: Spark's parser and parameter binder, bound literals in
  the Filter.  Bound literals reach the Parquet scan through Catalyst's
  static predicate pushdown (row-group and, on a layout, partition
  pruning), which is the Spark-native counterpart of the reference pushing
  a DynamicFilterPhysicalExpr into the scan (src/physical.rs:247-255).
  Unlike the reference we keep full partition parallelism — its
  partition-0-only restriction (src/parameterized_statement.rs:86) is an
  artifact of shared mutable filter state that params-as-literals does not
  have.
- ``literal`` (general path): ``spark.sql(sql, args=params)`` per execute
  — semantically exact for ANY Spark SQL statement; this is the twin of
  the reference's precomputed-logical-plan baseline
  (benches/dynamic_filter_benchmark.rs:146-183).  Statements with no batch
  form (neither rewrite analyzes) and non-query statements land here,
  recording why in ``fallback_reason``.  A query plans on a private clone
  of the caller's session made at prepare, so it reads the caller's temp
  views as they were at prepare (as a template does, and as the
  reference, which plans at prepare) and carries its own codegen gate; a
  non-query runs on the caller's session, where its side effects belong.
- ``execute_batch(rows)``: N parameter sets in one call; the result is the
  union of per-row results.  A template runs one of two rewrites: the IN
  form, the rows' values bound into the text as one literal IN list — the
  README's 1000-key IN-clause benchmark (README.md:46-51), one scan job
  with the keys as an ``InSet`` — when the analyzed plan shows it equals
  the union; else the LATERAL form, which joins the statement to the rows
  bound as a params relation and evaluates it per parameter row.
  A template whose LIMIT keeps arbitrary rows has no batch form, and like
  the literal path unions per-row executions.  On a layout a batch reads
  the layout only when the values bound to its key leave a bucket out,
  and then only their buckets; values covering every bucket read the
  table as registered.
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict

from .errors import cannot_prepare_ddl
from .params import (
    bind_text,
    canonicalize,
    in_context_placeholders,
    normalize_params,
    scan,
)
from .simple_parser import (CompiledTemplate, clone_session, footer_rows, interpret_if_few,
                            parse_simple_select, sql_df)

def _freeze(v):
    """Hashable canonical form of a bound parameter value (list-valued
    IN-list params arrive as Python lists)."""
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    return v


def _cache_key(bound: dict) -> tuple:
    return tuple((k, _freeze(v)) for k, v in sorted(bound.items(), key=lambda kv: kv[0]))


# The reference rejects ONLY CreateMemoryTable (CREATE TABLE [AS ...]) and
# CreateIndex; every other statement kind is forwarded to the planner
# (src/preparable_context.rs:18-28).  We match that scope exactly.  Both
# patterns match the statement from its first code token (``_lead``).
_DDL_RE = re.compile(
    r"CREATE\s+(OR\s+REPLACE\s+)?(GLOBAL\s+|LOCAL\s+)?(TEMP(ORARY)?\s+)?"
    r"(EXTERNAL\s+)?(TABLE|(UNIQUE\s+)?INDEX)\b",
    re.IGNORECASE,
)
# Statements whose spark.sql() is lazy (queries).  Anything else (INSERT,
# forwarded DDL, ...) executes eagerly in Spark, so the typed-NULL validation
# pass must not run it at prepare time.
_QUERY_RE = re.compile(r"(SELECT|WITH|VALUES|TABLE|FROM)\b", re.IGNORECASE)


def _lead(sql: str) -> str:
    """``sql`` from its first code token past leading comments and ``(``."""
    return next((sql[s:] for tok, s, _ in scan(sql) if tok != "("), "")


class PreparedStatement:
    """One compiled statement, many executions.

    ``hot=True`` pins each referenced table's column-pruned scan in memory
    (reference MemTable regime, benches/dynamic_filter_benchmark.rs:96-99)
    — choose it when the lookup working set fits cluster memory; the
    default keeps the parquet scan with static pushdown (the 100 TB
    regime).

    The engine picks per-execution codegen itself.  Spark inlines bound
    primitive literals into generated sources, so every new key compiles a
    new class (~10-40 ms driver-side, then the JVM's JIT compile of it)
    and churns the driver-global compile cache — for selective point
    lookups that never pays back (measured: interpreted eval beats even
    compile-warm codegen for this shape).  Point-lookup and hot templates
    therefore run without wholestage codegen; scan-heavy cold statements
    keep it, which is the right trade at 100 TB where compile time
    amortizes over the scan.  The codegen gate goes further when an
    execution touches at most ``simple_parser._INTERP_MAX_SCAN_ROWS`` rows
    of any table (a hot batch, a layout bucket, a flat table's rows read
    from its parquet footers): point-lookup and hot templates and
    literal-path queries then run with no generated code, so a fresh key
    compiles no class.  ``interpreted`` reports that choice.

    ``execute()`` binds a single parameter set as plan literals, which
    reach the scan as pushed filters — parquet row-group pruning cold,
    in-memory batch-stats pruning hot.  ``execute_batch()`` binds its rows
    in one of two ways: the IN form as one literal IN list, constants in
    the plan like ``execute()``'s (an ``InSet`` past ten values, held by
    reference in generated code past 400, so a large batch compiles no
    class), which keeps the batch one scan job, as a broadcast params
    relation would add a job of its own; the LATERAL form as a params
    relation it joins.

    ``layouts`` (normally supplied by ``Engine.prepare``) maps table names
    to registered :class:`~..layouts.PointLayout` copies; a statement with
    a placeholder operand (``key = $1`` / ``key IN $1``) on a layout's key
    reads that table through the bucket-partitioned copy.  When that
    operand is a top-level WHERE conjunct over the table's only scan, an
    ``execute`` reads only its key's bucket, and an ``execute_batch`` or
    IN list reads only the buckets of its bound values when they leave one
    out (static partition pruning; see
    sources.prepared_dpp_partition_pruning and its plan gate); when they
    cover every bucket it reads the table as registered.

    Thread-safety: templates and literal-path queries plan on a private
    cloned SparkSession with the codegen policy in its own SQLConf;
    literal-path non-queries run on the caller's session and never change
    its conf.  No statement toggles a session-global setting, so planning
    needs no lock; one lock guards the plan cache and the execution
    count."""

    def __init__(self, spark, sql: str, *, mode: str = "auto", hot: bool = False,
                 layouts: dict | None = None, plan_cache_size: int = 256):
        if mode not in ("auto", "dynamic", "literal"):
            raise ValueError(
                f"mode must be 'auto', 'dynamic' or 'literal', got {mode!r}"
            )
        self.spark = spark
        self.sql = sql
        if _DDL_RE.match(_lead(sql)):
            raise cannot_prepare_ddl()
        self.canonical_sql, self.placeholders = canonicalize(sql)
        self.param_names = []
        seen = set()
        for ph in self.placeholders:
            if ph.canonical not in seen:
                seen.add(ph.canonical)
                self.param_names.append(ph.canonical)

        # ``fallback_reason`` records why a statement took the literal path
        # (None when dynamic).
        self._is_query = bool(_QUERY_RE.match(_lead(self.canonical_sql)))
        self._template: CompiledTemplate | None = None
        self.fallback_reason: str | None = "mode='literal' was requested"
        if mode in ("auto", "dynamic"):
            try:
                if not self._is_query:
                    raise ValueError("not a query")
                self._template = CompiledTemplate(
                    spark, self.canonical_sql, self.placeholders,
                    parse_simple_select(self.canonical_sql, self.placeholders),
                    hot=hot, layouts=layouts,
                )
                self.fallback_reason = None
            except Exception as e:
                if mode == "dynamic":
                    raise
                self.fallback_reason = str(e)
        self.mode = "dynamic" if self._template is not None else "literal"
        # Bounded LRU keyed by the frozen parameter binding.  A long-lived
        # service statement sees an unbounded key stream (a million distinct
        # point-lookup keys); caching every bound DataFrame — each pinning
        # its JVM QueryExecution — forever is a driver-memory leak (r5
        # verdict).  Eviction is cheap to tolerate: re-binding a template is
        # the fast path anyway, so a cache miss costs one re-plan, not a
        # correctness change.
        if plan_cache_size < 1:
            raise ValueError("plan_cache_size must be >= 1")
        self._plan_cache: "OrderedDict[tuple, object]" = OrderedDict()
        self._plan_cache_size = plan_cache_size
        self._lock = threading.Lock()
        self.executions = 0
        # Placeholders standing as an IN operand take LIST values; Spark's
        # parameterized parser has no list-valued marker (`IN :p` does not
        # parse), so the literal path inlines them as SQL tuples instead
        # (see _literal_df).
        self._in_placeholders = in_context_placeholders(self.canonical_sql)
        self._null_args = {
            name: ([None] if name in self._in_placeholders else None)
            for name in self.param_names
        }
        # The literal path plans a query on a private clone of the caller's
        # session (its temp views as of prepare, its own codegen policy); a
        # non-query acts on the caller's session.
        self._session, self._interpreted = spark, False
        if self._template is None and self._is_query:
            self._session = clone_session(spark)
            # Typed-NULL pre-binding pass (reference src/physical.rs:94-140):
            # analyze the full statement once with NULL-bound placeholders so
            # prepare() surfaces analysis errors, not execute().  Its tables
            # feed the codegen gate.
            analyzed = self._literal_df(self._null_args)._jdf.queryExecution().analyzed()
            self._interpreted = interpret_if_few(self._session, footer_rows(analyzed))

    # -- execution ---------------------------------------------------------

    def execute(self, params: dict | list | tuple | None = None):
        """Bind parameters and return the result DataFrame (lazy)."""
        bound = normalize_params(params, self.placeholders)
        if not self._is_query:
            # Non-query statements (INSERT, forwarded DDL, ...) run eagerly
            # inside spark.sql(); caching by param key would silently skip
            # re-running the side effect on a repeat execute.  Mirrors the
            # prepare-time check above.
            with self._lock:
                self.executions += 1
            return self._literal_df(bound)
        key = _cache_key(bound)
        with self._lock:
            cached = self._plan_cache.get(key)
            if cached is not None:
                self._plan_cache.move_to_end(key)
                self.executions += 1
                return cached
        if self._template is not None:
            df = self._template.build(bound)
        else:
            df = self._literal_df(bound)
        # Force physical planning NOW, as the reference plans inside
        # prepare/execute rather than at stream-pull time
        # (src/preparable_context.rs:30, src/parameterized_statement.rs:86):
        # planning cost lands here, and the later action only runs the plan.
        df._jdf.queryExecution().executedPlan()
        with self._lock:
            self._plan_cache[key] = df
            if len(self._plan_cache) > self._plan_cache_size:
                self._plan_cache.popitem(last=False)
            self.executions += 1
        return df

    def _literal_df(self, bound: dict):
        """The literal path: the statement on its session (a query's
        private clone, else the caller's)."""
        return sql_df(self._session, self.canonical_sql, self.placeholders, bound)

    @property
    def interpreted(self) -> bool:
        """Whether executions run with no generated code (no wholestage
        codegen, interpreted expressions): the codegen gate's choice, made
        at prepare, when an execution touches few rows
        (``simple_parser.interpret_if_few``)."""
        t = self._template
        return t.interp_exprs if t is not None else self._interpreted

    def execute_batch(self, rows: list[dict | list | tuple]):
        """Execute one statement for the SET of N parameter rows at once
        (IN-list analog, reference README.md:46-51).

        Semantics (both paths): duplicate parameter rows contribute once;
        the result is the union of per-distinct-row results.  A template
        runs its batch form (see simple_parser), one plan: the IN form —
        ONE scan filtered by a literal IN list of the rows' values, for
        statements whose analyzed plan keeps every row tied to one
        parameter row — or the LATERAL form, which evaluates the statement
        per parameter row.  Without a batch form (the literal path, or a
        LIMIT keeping arbitrary rows) it unions per-row executions.  No rows
        give an empty result with the statement's columns."""
        bound_rows = [normalize_params(r, self.placeholders) for r in rows]
        uniq: list[dict] = []
        seen: set = set()
        for b in bound_rows:
            k = _cache_key(b)
            if k not in seen:
                seen.add(k)
                uniq.append(b)
        t = self._template
        if t is not None and t.batch_form == "in":
            return t.build_semi_join(uniq)
        if t is not None and t.batch_form == "lateral":
            return t.build_grouped_batch(uniq)
        # No batch form (literal path, or a LIMIT keeping arbitrary rows):
        # bind the statement per row and union.  Correct for any statement,
        # but O(rows) plan size.  No rows: the statement's columns, no row
        # (a non-query runs nothing).
        build = t.build if t is not None else self._literal_df
        if not uniq and not self._is_query:
            return self.spark.range(0).drop("id")
        if not uniq:
            return build(self._null_args).limit(0)
        out = build(uniq[0])
        for b in uniq[1:]:
            out = out.unionAll(build(b))
        return out

    def bound_sql(self, params: dict | list | tuple | None = None) -> str:
        """The statement with literals substituted (debug/explain aid)."""
        bound = normalize_params(params, self.placeholders)
        return bind_text(self.canonical_sql, self.placeholders, bound)

    def reset(self) -> None:
        """Drop cached per-execution state (reference reset_state,
        src/physical.rs:162-179)."""
        with self._lock:
            self._plan_cache.clear()
            self.executions = 0

    def close(self) -> None:
        """Release statement resources: bound-state caches and, for hot
        templates, the pinned in-memory scan."""
        self.reset()
        if self._template is not None:
            self._template.close()

    def explain(self, params=None, fmt: str = "formatted") -> str:
        df = self.execute(params)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), fmt
        )

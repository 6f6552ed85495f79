"""Compiled templates for the plan-reuse ("dynamic") execution path.

Spark parses and binds every prepared statement: one execute is
``session.sql(canonical_sql, args=bound)`` on the template's private cloned
session, whose SQLConf holds the codegen policy and whose table views carry
the scan (a point layout's bucket-partitioned copy, where constant
propagation turns a bound key into a partition filter, or a hot pinned
copy).  ``execute_batch`` is one of two rewrites: the IN form, the rows'
values bound into the text as one literal IN list (as an ``IN :p`` execute
binds its list), when the analyzed plan shows it equals the union of
per-row results; else the LATERAL form, a join of the statement to the
rows bound as a params relation.  A batch or IN list on
a layout key reads the layout only when its values leave a bucket out,
through a view that keeps only their buckets (``_narrow``); values that
cover every bucket read the table as registered.  The only SQL text read
here is each placeholder's *operand* (``col`` in ``col = :p`` / ``col IN
:p``, ``parse_simple_select``); the analyzed plan tells where it sits.
"""

from __future__ import annotations

import itertools
import json
import logging
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

import pyarrow as pa
from pyspark.logger import PySparkLogger
from pyspark.sql import SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from .layouts import parquet_row_count
from .params import (Placeholder, bind_text, find_placeholders, in_context_placeholders, scan,
                     to_sql_literal)
from .plans import Node, from_json

# `col =` / `col IN` just before a placeholder (not a `::` cast's type).
_OPERAND_RE = re.compile(r"(?<![\w.:])([A-Za-z_][\w.]*)\s*(=|IN)\s*$", re.IGNORECASE)
_NOT_OPERANDS = {"NOT", "END", "NULL", "TRUE", "FALSE"}

# The codegen gate (``interpret_if_few``): bound literals are inlined into
# generated code, so every fresh key paid a Janino compile (~10-20 ms) and
# the JIT compile of the class after it.  Interpreted expressions win when
# an execution TOUCHES few rows (sf0.1: hot 2.54 -> 1.89 s / 50 keys,
# layout 3.61 -> 3.28, DPP batches 1.27 -> 1.06) and lose 6-14% on a flat
# 150k-row scan: the crossover is ~1e5 touched rows.  Point-lookup and hot
# templates and literal-path queries are gated; ``_flat`` is not.
_INTERP_MAX_SCAN_ROWS = 131072

# The params view in the LATERAL form's SQL; each batch gets a fresh name.
_PARAMS = "__ddf_params__"
_VIEW_IDS = itertools.count()

# Above a batch's Filter these nodes keep each output row tied to one
# parameter row (Join only inner; one Aggregate, grouped by the keys).
_ROW_PRESERVING = {"Project", "Filter", "Sort", "SubqueryAlias", "View", "Join",
                   "Aggregate", "WithCTE"}
# Between a WHERE Filter and the scan it filters.
_ROW_WISE = {"Project", "Filter", "SubqueryAlias", "Join"}
# The trial analysis binds operand i's placeholder to the string _PROBE + i.
_PROBE = "__ddf_probe_"


class _TrialErrors(logging.Filter):
    """Drops what PySpark logs (an ERROR record with the whole JVM stack)
    for an analysis error raised inside a trial, in this thread: a failed
    trial only picks another form or the literal path."""

    _local = threading.local()

    def filter(self, record) -> bool:
        return not getattr(self._local, "on", False)

    @contextmanager
    def quiet(self):
        self._local.on = True
        try:
            yield
        finally:
            self._local.on = False


_TRIALS = _TrialErrors()
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(_TRIALS)


def arrow_relation(session, schema: T.StructType, columns: list[list]):
    """``columns`` (one value list per field of ``schema``) as a
    ``LocalRelation``: one pyarrow table, values converted as Spark
    converts literals (naive datetimes in the local zone), so building and
    reading it start no Spark job."""
    table = pa.table({f.name: pa.array([f.dataType.toInternal(v) for v in col],
                                       to_arrow_type(f.dataType))
                      for f, col in zip(schema.fields, columns)})
    return session.createDataFrame(table, schema)


@dataclass(frozen=True)
class Operand:
    """A placeholder's operand: ``col`` as written, ``op`` ``"="`` or
    ``"IN"``, and ``start``, the offset of ``col`` in the statement."""

    col: str
    op: str
    start: int
    ph: Placeholder


def parse_simple_select(sql: str, placeholders: list[Placeholder] | None = None):
    """The placeholder-operand scan: one :class:`Operand` (or None) per
    placeholder occurrence of ``sql``, in order."""
    out = []
    for ph in find_placeholders(sql) if placeholders is None else placeholders:
        m = _OPERAND_RE.search(sql, 0, ph.start)
        ok = m is not None and m.group(1).upper() not in _NOT_OPERANDS
        out.append(Operand(m.group(1), m.group(2).upper(), m.start(1), ph) if ok else None)
    return out


def sql_df(session, sql: str, placeholders: list[Placeholder], bound: dict):
    """``session.sql`` with named args; LIST values (``IN :p``) inlined as
    literal tuples, which Spark's parameter markers cannot express."""
    if any(isinstance(v, (list, tuple)) for v in bound.values()):
        return session.sql(bind_text(sql, placeholders, bound))
    return session.sql(sql, args=bound)


def clone_session(session):
    return SparkSession(session.sparkContext, session._jsparkSession.cloneSession())


def _leaf_rows(leaf) -> int | None:
    """A JVM logical plan leaf's rows from the parquet footers of its
    local input files, counted until they pass the gate's bound; None
    unless it is a parquet relation over files listed when it was read
    (an ``InMemoryFileIndex``: a catalog table lists its partitions on
    demand, which may start a Spark job)."""
    if leaf.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = leaf.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    index = rel.location()
    if rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat" or \
            index.getClass().getSimpleName() != "InMemoryFileIndex":
        return None
    rows = 0
    for uri in index.inputFiles():
        url = urlparse(uri)
        if url.scheme not in ("", "file"):
            return None
        rows += parquet_row_count(unquote(url.path))
        if rows > _INTERP_MAX_SCAN_ROWS:
            break
    return rows


def footer_rows(jplan) -> int | None:
    """The most rows one leaf of the JVM logical plan ``jplan`` (subquery
    plans included) holds, read from parquet footers (no Spark job), or a
    count past the gate's bound; None when a leaf has no footer count (a
    ``LocalRelation``, CSV, JSON, a ``SELECT`` without ``FROM``).  CTE
    references are skipped: the plan holds each CTE's definition, whose
    leaves count."""
    subs = jplan.subqueriesAll()
    most = None
    for plan in [jplan, *(subs.apply(i) for i in range(subs.size()))]:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "CTERelationRef":
                continue
            rows = _leaf_rows(leaf)
            if rows is None or rows > _INTERP_MAX_SCAN_ROWS:
                return rows
            most = max(most or 0, rows)
    return most


def interpret_if_few(session, rows: int | None) -> bool:
    """The codegen gate: when an execution touches at most
    ``_INTERP_MAX_SCAN_ROWS`` rows of any table (``rows``, None when not
    known), ``session`` plans with no wholestage codegen, interpreted
    expressions and no constraint propagation, so a fresh bound literal
    compiles no class.  True when it does."""
    if rows is None or rows > _INTERP_MAX_SCAN_ROWS:
        return False
    for key, value in (("spark.sql.codegen.wholeStage", "false"),
                       ("spark.sql.codegen.factoryMode", "NO_CODEGEN"),
                       ("spark.sql.constraintPropagation.enabled", "false")):
        session.conf.set(key, value)
    return True


def _set_view(session, name: str, df) -> None:
    """Register ``df`` as temp view ``name``, dropping the old view from the
    session catalog directly: the public API would uncache every cached
    plan reading it, the caller's included (the cache manager is shared)."""
    session._jsparkSession.sessionState().catalog().dropTempView(name)
    df.createTempView(name)


def _layout_df(session, lay, buckets: list[int] | None = None):
    """The layout copy as its table: rows in the bucket their key hashes to
    (and in ``buckets``), bucket column dropped; one statement, as each
    DataFrame step would be one more analysis."""
    kb = f"`{lay.bucket_col}`"
    where = f"{kb} = pmod(`{lay.key}`, {lay.buckets})"
    if buckets is not None:
        where += f" AND {kb} IN ({', '.join(map(str, buckets))})"
    return session.sql(f"SELECT * EXCEPT ({kb}) FROM {lay.name} WHERE {where}")


def _attr_ids(tree: Node, below: bool = True) -> dict:
    """{exprId: name} of the attributes in ``tree``'s expressions (and in
    those of the nodes below it, if ``below``), subquery plans excluded."""
    return {e.args["exprId"]["id"]: e.args["name"] for n in (tree.walk() if below else [tree])
            for e in n.exprs() if e.name == "AttributeReference"}


def _strip(expr: Node) -> Node:
    while expr.name == "Cast":
        expr = expr.children[0]
    return expr


def _conjuncts(expr: Node) -> list:
    return [c for k in expr.children for c in _conjuncts(k)] if expr.name == "And" else [expr]


def _plan_facts(root: Node):
    """(views, refs, conj, sorted_limits) of an analyzed plan tree,
    subquery plans included.  ``views``: table -> ``{exprId: name}`` per
    View of it.  ``refs``: attribute ids referenced outside Views.
    ``conj``: probe ``i`` -> ``(filter, table, column, exact, type)`` per
    ``column = probe`` / ``column IN (probe)`` top-level Filter conjunct;
    ``table`` is the column's View when the Filter reads it through
    ``_ROW_WISE`` nodes (a WHERE over that scan); ``exact`` when only
    ``_ROW_PRESERVING`` nodes sit above the Filter in the main plan.
    ``sorted_limits``: every LIMIT's input is ordered (else the physical
    plan picks rows, which no batch form reproduces)."""
    views, refs, conj, sorted_limits = {}, set(), {}, [True]

    def walk(node: Node, above):
        if node.name == "View":
            views.setdefault(node.args["desc"]["identifier"]["table"], []).append(_attr_ids(node))
            return
        refs.update(_attr_ids(node, below=False))
        if node.name == "GlobalLimit":
            below = node.children[0]
            while below.name in ("LocalLimit", "Offset", "Project", "SubqueryAlias"):
                below = below.children[0]
            sorted_limits[0] = sorted_limits[0] and below.name == "Sort"
        for c in [c for c in _conjuncts(node.args["condition"]) if c.name in ("EqualTo", "In")
                  ] if node.name == "Filter" else []:  # a boolean column has no children
            col, lits = _strip(c.children[0]), {_strip(v).args.get("value") for v in c.children[1:]}
            v = lits.pop() if len(lits) == 1 else None
            if col.name == "AttributeReference" and isinstance(v, str) and v.startswith(_PROBE):
                cid = col.args["exprId"]["id"]
                table = next((s.args["desc"]["identifier"]["table"] for k in node.children
                              for s in k.walk(lambda n: n.name in _ROW_WISE)
                              if s.name == "View" and cid in _attr_ids(s)), None)
                aggs = [a for a in above if a and a.name == "Aggregate"]
                exact = None not in above and len(aggs) <= 1 and all(
                    a.name in _ROW_PRESERVING and "Inner" in str(a.args.get("joinType", "Inner"))
                    for a in above) and all(
                    cid in {g.args.get("exprId", {}).get("id") for g in a.args["groupingExpressions"]}
                    for a in aggs)
                conj[int(v[len(_PROBE):])] = (id(node), table, col.args["name"].lower(), exact,
                                              col.args["dataType"])
        # WithCTE: its last child is the query, the others define CTEs.
        for k in node.children:
            walk(k, above + [node if node.name != "WithCTE" or k is node.children[-1] else None])

    walk(root, [])
    for n in root.walk():
        for e in (n, *n.exprs(plans=True)):
            if isinstance(e.args.get("plan"), Node):
                walk(e.args["plan"], [None])
    return views, refs, conj, sorted_limits[0]


class CompiledTemplate:
    """A prepared fast-path statement.  ``hot=True`` pins a column-pruned
    copy of each table it reads (the reference's resident ``MemTable``,
    benches/dynamic_filter_benchmark.rs:96-99); otherwise a table read
    through its registered layout (``self.layouts``) when a WHERE conjunct
    over it compares the layout key with a placeholder."""

    def __init__(self, spark, sql: str, placeholders: list[Placeholder],
                 operands: list[Operand | None], *, hot: bool = False,
                 layouts: dict | None = None):
        self.sql = sql.rstrip().rstrip(";")
        self.placeholders, self.operands = placeholders, operands
        self.param_names = list(dict.fromkeys(ph.canonical for ph in placeholders))
        self._in_params = in_context_placeholders(self.sql)
        # A clone: the caller's temp views as of prepare, a private SQLConf.
        self.spark = clone_session(spark)
        # Trial analysis (the reference's pre-binding pass, src/physical.rs:
        # 94-140): errors surface at prepare; the plan names tables, column
        # types and where operand i, bound to probe i, sits (the rest bind
        # NULL).  Typed NULLs alone if a probe fails: then no operand counts.
        nulls = {n: [None] if n in self._in_params else None for n in self.param_names}
        probe = self._rewrite([
            (ph.start, ph.end, ("({})" if ph.canonical in self._in_params else "{}").format(
                "NULL" if o is None else f"'{_PROBE}{i}'"))
            for i, (ph, o) in enumerate(zip(placeholders, operands))
        ])
        try:
            with _TRIALS.quiet():
                trial = self.spark.sql(probe)
        except Exception:
            trial = sql_df(self.spark, self.sql, placeholders, nulls)
        analyzed = from_json(json.loads(trial._jdf.queryExecution().analyzed().toJSON()))
        views, refs, conj, sorted_limits = _plan_facts(analyzed)
        words = {t.lower() for t, _, _ in scan(self.sql)}
        self.tables, self._types = [t for t in views if t.lower() in words], {}
        for i, c in conj.items():  # param name -> its operand columns' types
            self._types.setdefault(placeholders[i].canonical, set()).add(json.dumps(c[4]))
        # Codegen policy, part 1: no wholestage codegen (a new class per key
        # never pays back) for hot statements and point lookups, where every
        # placeholder is a WHERE conjunct's operand.  Set before pinning.
        scanned = {(c[1], c[2]) for c in conj.values() if c[1] is not None}
        self.nojit = hot or (bool(placeholders) and
                             sum(c[1] is not None for c in conj.values()) == len(placeholders))
        if self.nojit:
            self.spark.conf.set("spark.sql.codegen.wholeStage", "false")
        self.pinned, self.layouts = {}, {}
        if hot:
            # InMemoryTableScan prunes whole batches by min/max stats: 1024-row
            # batches ran 2.7x faster per key than 10000 (150k-row scan).
            self.spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
            for t in self.tables:  # the columns read outside the table's Views
                used = {n.lower() for ids in views.get(t, ()) for i, n in ids.items() if i in refs}
                df = self.spark.table(t)
                cols = [c for c in df.columns if c.lower() in used]
                self.pinned[t] = df.select(*(cols or df.columns)).persist()
                _set_view(self.spark, t, self.pinned[t])
        else:
            for t in self.tables:
                lay = (layouts or {}).get(t)
                if lay is not None and (t, lay.key.lower()) in scanned:
                    self.layouts[t] = lay
                    _set_view(self.spark, t, _layout_df(self.spark, lay))
        # A placeholder on a layout key filtering the table's only scan.
        self._narrow = [
            (placeholders[i].canonical, t, self.layouts[t]) for i, (_, t, col, *_) in conj.items()
            if t in self.layouts and col == self.layouts[t].key.lower() and len(views[t]) == 1
        ]
        # Values covering every bucket gain nothing from a layout: such a
        # batch plans on a clone of the caller's session, which holds the
        # tables as registered and Spark's default codegen.  Not when a
        # layout table is read twice: a literal may still prune one scan.
        self._flat = clone_session(spark) if self._narrow and set(self.layouts) == {
            t for _, t, _ in self._narrow} else None
        try:
            self._decide_batch_form(nulls, conj, sorted_limits)
        except Exception:
            self.close()  # no template: release the pinned tables
            raise
        # Fill the hot cache now; the counts feed the gate below.
        self.hot_rows = {t: df.count() for t, df in self.pinned.items()}
        # Codegen policy, part 2: no generated code at all on few touched rows.
        self.interp_exprs = self.nojit and interpret_if_few(self.spark, self._interp_scan_rows())

    def _decide_batch_form(self, nulls: dict, conj: dict, sorted_limits: bool) -> None:
        """``batch_form`` "in" when the IN form — every placeholder's ``col =
        :p``, exact conjuncts of one Filter, as one literal IN list
        (``_in_sql``) — analyzes over no rows, else "lateral"; None when a
        LIMIT keeps arbitrary rows; raise Spark's error when neither
        analyzes."""
        ops, self.batch_form = self.operands, None
        if not sorted_limits:
            return
        if ops and len(conj) == len(ops) and len({c[0] for c in conj.values()}) == 1 \
                and all(o.op == "=" and conj[i][3] for i, o in enumerate(ops)):
            try:
                with _TRIALS.quiet():
                    self.spark.sql(self._in_sql([]))
                self.batch_form = "in"
                return
            except Exception:  # the LATERAL form, below
                pass
        body = self._rewrite([
            (o.start, ph.end, f"array_contains(__k.{ph.canonical}, {o.col})")
            if o is not None and o.op == "IN" else (ph.start, ph.end, f"__k.{ph.canonical}")
            for ph, o in zip(self.placeholders, ops)
        ])
        self._lateral_sql = f"SELECT __q.* FROM {_PARAMS} __k, LATERAL (\n{body}\n) __q"
        with _TRIALS.quiet():
            self._run(self.spark, self._lateral_sql, [nulls])
        self.batch_form = "lateral"

    def _rewrite(self, spans: list[tuple[int, int, str]]) -> str:
        """The statement with each ``(start, end)`` span replaced."""
        out, last = [], 0
        for start, end, text in spans:
            out += [self.sql[last:start], text]
            last = end
        return "".join(out) + self.sql[last:]

    def _interp_scan_rows(self) -> int | None:
        """Largest per-table count of rows an execution TOUCHES (hot: stats
        rows plus ~one 1024-row batch; layout: a bucket; flat: the table's
        rows, ``footer_rows`` of the table as registered); None when a flat
        table has no footer count."""
        ests = [self.hot_rows[t] // 1024 + 1024 if t in self.hot_rows
                else self.layouts[t].rows // max(1, self.layouts[t].buckets)
                if t in self.layouts
                else footer_rows(self.spark.table(t)._jdf.queryExecution().analyzed())
                for t in self.tables]
        return None if not ests or None in ests else max(ests)

    def _session(self, rows: list[dict], literal: bool = False):
        """The session a build over ``rows`` plans on.  When the values
        ``rows`` bind to a ``_narrow`` placeholder leave a bucket out: a
        clone whose layout view keeps only their buckets (static partition
        pruning).  When, for every such placeholder, they cover every
        bucket or one has no bucket (NULL, non-integral): ``_flat``, as the
        layout would prune nothing.  Else the template's own.  ``literal``:
        a scalar is a plan literal, whose bucket is a partition filter by
        constant propagation on the view's own."""
        narrowed, flat = {}, self._flat is not None
        for name, t, lay in self._narrow:
            vals = [r.get(name) for r in rows]
            if literal and not isinstance(vals[0], (list, tuple)):
                flat = False
                continue
            kbs = {lay.bucket_of(x) for v in vals
                   for x in (v if isinstance(v, (list, tuple)) else [v])}
            if kbs and None not in kbs and len(kbs) < lay.buckets:
                narrowed[t] = sorted(kbs)
            flat = flat and bool(kbs)
        if not narrowed:
            return self._flat if flat else self.spark
        session = clone_session(self.spark)
        for t, kbs in narrowed.items():
            _set_view(session, t, _layout_df(session, self.layouts[t], kbs))
        return session

    def build(self, bound: dict):
        """The DataFrame of one execution; Spark binds ``bound``.  Only IN
        lists choose the session; a scalar key keeps the layout."""
        return sql_df(self._session([bound], literal=True), self.sql, self.placeholders, bound)

    def build_semi_join(self, key_rows: list[dict]):
        """The IN form: the statement filtered by one literal IN list of the
        rows' values (``_in_sql``), which Catalyst turns into an ``InSet``
        and pushes to the scan; one Spark job reads the table.  A row with
        a NULL value is left out, as ``col = NULL`` matches nothing (and
        its bucket-less key would keep the layout from narrowing).  The name
        is the form's old transport, a broadcast semi-join of a params
        relation; it stays because ``perfbench/tracing.py`` wraps it by
        name."""
        if self.batch_form != "in":
            raise ValueError("the IN batch form does not apply to this statement")
        rows = [r for r in key_rows if all(r[o.ph.canonical] is not None for o in self.operands)]
        return self._session(rows).sql(self._in_sql(rows))

    def _in_sql(self, rows: list[dict]) -> str:
        """The IN form's text over ``rows`` (no NULL values): the first
        operand's ``col = :p`` becomes ``col IN (v1, ..., vn)``, the other
        operands' ``TRUE``; values are literals typed as ``args=`` binds
        them.  Several operands compare as ``named_struct``s with the same
        field names, so Spark widens each field (a plain tuple of INT and
        BIGINT fails to analyze).  No rows is ``IN (NULL)``: the
        statement's columns, no row."""
        ops = self.operands

        def item(parts):
            fields = ", ".join(f"'k{i}', {x}" for i, x in enumerate(parts))
            return parts[0] if len(parts) == 1 else f"named_struct({fields})"

        values = dict.fromkeys(item([to_sql_literal(r[o.ph.canonical]) for o in ops])
                               for r in rows)
        first = f"{item([o.col for o in ops])} IN ({', '.join(values) or 'NULL'})"
        return self._rewrite(
            [(o.start, o.ph.end, first if i == 0 else "TRUE") for i, o in enumerate(ops)])

    def build_grouped_batch(self, key_rows: list[dict]):
        """The LATERAL form: the statement evaluated per parameter row by
        Spark's decorrelation — exact for any statement that analyzes."""
        return self._run(self._session(key_rows), self._lateral_sql, key_rows)

    def _run(self, session, sql: str, rows: list[dict]):
        """The DataFrame of the LATERAL form over ``rows``; the params view
        is dropped once Spark has analyzed the statement."""
        name = f"__ddf_params_{next(_VIEW_IDS)}"
        F.broadcast(self._params_df(session, rows)).createTempView(name)
        try:
            return session.sql(sql.replace(_PARAMS, name))
        finally:
            session._jsparkSession.sessionState().catalog().dropTempView(name)

    def _param_type(self, name: str, rows: list[dict]):
        """A params column's type: its operand columns' when they share one
        that accepts the values, else inferred from the first non-NULL."""
        vals = [r[name] for r in rows]
        vals = [x for v in vals if v is not None for x in v] if name in self._in_params else vals
        seen = set(self._types.get(name, ()))
        t = T._parse_datatype_json_value(json.loads(seen.pop())) if len(seen) == 1 else None
        if isinstance(t, T.FloatType):  # ``args=`` binds a Python float as a DOUBLE
            t = T.DoubleType()
        try:
            check = T._make_type_verifier(t) if t else None
            for v in vals if t else ():
                check(v)
            if t:  # and the arrow array takes them (a decimal's scale must fit)
                pa.array([t.toInternal(v) for v in vals], to_arrow_type(t))
        except (TypeError, ValueError):  # pyarrow's errors subclass these
            t = None
        if t is None:
            first = next((v for v in vals if v is not None), None)
            t = T.NullType() if first is None else T._infer_type(first)
        return T.ArrayType(t) if name in self._in_params else t

    def _params_df(self, session, rows: list[dict]):
        """The params relation, a ``LocalRelation`` (no job)."""
        names = self.param_names or ["__row"]
        schema = T.StructType([T.StructField(
            n, self._param_type(n, rows) if self.param_names else T.BooleanType())
            for n in names])
        columns = [[r.get(f.name) for r in rows] for f in schema.fields]
        return arrow_relation(session, schema, columns)

    def close(self) -> None:
        """Unpersist the pinned tables."""
        for df in self.pinned.values():
            df.unpersist()

"""Point-layout mechanics: bucket-partitioned copies, static partition
pruning for literal-bound keys and data-bound batches, fingerprint
invalidation, and the cloned-planning-session conf isolation (r5)."""

import glob
import os
import re
import tempfile

import pytest

from datafusion_dynamic_filter_spark.layouts import (
    layout_stale,
    source_fingerprint,
    write_layout_marker,
)
from datafusion_dynamic_filter_spark import simple_parser
from datafusion_dynamic_filter_spark.plans import (
    executed_plan,
    physical,
    scan_filters,
    scan_metrics,
    scans,
)

SQL = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = $1"


@pytest.fixture(scope="module")
def layout(engine, testdata):
    import tests.conftest as c

    return engine.ensure_point_layout(
        "orders", "o_orderkey",
        source_path=os.path.join(c.SF_DIR, "orders.parquet"),
    )


def test_layout_adopted_and_results_match_flat(engine, layout):
    flat = engine.prepare(SQL, layout=False)
    lay = engine.prepare(SQL)
    assert flat._template.layouts == {}
    assert lay._template.layouts
    for k in (1, 7, 42, 10**9):  # incl. a key matching nothing
        want = [tuple(r) for r in flat.execute({"$1": k}).collect()]
        got = [tuple(r) for r in lay.execute({"$1": k}).collect()]
        assert got == want, k


def test_layout_static_partition_pruning_in_plan(engine, layout):
    stmt = engine.prepare(SQL)
    df = stmt.execute({"$1": 42})
    filters = scan_filters(physical(df), "PartitionFilters")
    assert any(f.startswith(f"({layout.bucket_col}#") and f.endswith(" = 42)")
               for f in filters), executed_plan(df)
    # the bucket column never leaks into the result schema
    assert df.columns == ["o_orderkey", "o_custkey", "o_totalprice"]


@pytest.mark.parametrize(
    "sql,narrowed",
    [
        ("SELECT o_orderkey FROM orders WHERE o_orderkey IN $1", True),
        ("SELECT o_orderkey FROM orders WHERE o_orderkey = $1", True),
        ("SELECT * FROM orders WHERE o_orderkey = $1", True),
        # the LATERAL batch form
        ("SELECT count(*) AS n, sum(o_totalprice) AS total FROM orders "
         "WHERE o_orderkey = $1", True),
        # the value bounds only some rows (or none) of the table's scans:
        # reading only its buckets would drop the others
        ("SELECT o_orderkey FROM orders WHERE o_orderkey IN $1 "
         "OR o_totalprice > 300000", False),
        ("SELECT o_orderkey FROM orders WHERE o_orderkey = $1 "
         "OR o_totalprice > 300000", False),
        ("SELECT o_orderkey FROM orders WHERE NOT o_orderkey IN $1", False),
        ("SELECT o_orderkey, CASE WHEN o_orderkey IN $1 THEN 1 ELSE 0 END AS hit "
         "FROM orders", False),
        ("SELECT a.o_orderkey, b.o_orderkey AS other FROM orders a JOIN orders b "
         "ON a.o_custkey = b.o_custkey WHERE a.o_orderkey IN $1", False),
        ("SELECT a.o_orderkey, b.o_orderkey AS other FROM orders a JOIN orders b "
         "ON a.o_custkey = b.o_custkey WHERE a.o_orderkey = $1", False),
    ],
)
def test_layout_in_binder_bucket_augmentation(engine, layout, sql, narrowed):
    stmt, flat = engine.prepare(sql), engine.prepare(sql, layout=False)
    assert bool(stmt._template._narrow) == narrowed
    if narrowed:
        assert stmt._template.layouts
    if " IN $1" in sql:
        one, batch = {"$1": [11, 22, 33]}, [[[11, 22]], [[33]]]
    else:
        one, batch = {"$1": 22}, [[11], [22], [33]]
    for run in (lambda s: s.execute(one), lambda s: s.execute_batch(batch)):
        got = sorted(map(tuple, run(stmt).collect()))
        assert got == sorted(map(tuple, run(flat).collect()))


def _bucket_filters(df, lay) -> list[str]:
    """The layout scan's partition filters that list buckets."""
    return [f for f in scan_filters(physical(df), "PartitionFilters")
            if f.startswith(f"{lay.bucket_col}#") and " IN (" in f]


@pytest.mark.parametrize("sql", [
    SQL,
    "SELECT * FROM orders WHERE o_orderkey = $1",
    "SELECT count(*) AS n FROM orders WHERE o_orderkey = $1",  # the LATERAL form
])
def test_layout_batch_reads_only_its_buckets(engine, layout, sql):
    stmt = engine.prepare(sql)
    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "ddf_params_*")))
    df = stmt.execute_batch([[11], [22], [33]])
    assert len(df.collect()) == 3  # the LATERAL form: one count per key
    assert set(glob.glob(os.path.join(tempfile.gettempdir(), "ddf_params_*"))) == before
    assert [f.split(" IN ")[1] for f in _bucket_filters(df, layout)] == ["(11,22,33)"], \
        executed_plan(df)
    assert scan_metrics(df)["files_read"] == 3
    # the buckets stay in the scan: no Filter above it lists buckets (the
    # keys' own list is the same text, as keys 11, 22, 33 are their buckets)
    for f in physical(df).find("Filter"):
        assert not re.search(rf"\b{layout.bucket_col}#\d+ IN \(", f.args["argString"]), \
            executed_plan(df)
    assert layout.bucket_col not in df.columns
    stmt.close()


def _reads_layout(df, lay) -> bool:
    """Whether a scan of ``df`` reads the layout copy or its bucket column."""
    return any(lay.name in s.args["argString"] or lay.path in s.args.get("Location", "")
               or lay.bucket_col in repr(dict(s.args)) for s in scans(physical(df)))


def test_layout_batch_over_every_bucket_reads_the_registered_table(engine, layout, monkeypatch):
    import tests.conftest as c

    stmt, keys = engine.prepare(SQL), [[k] for k in range(1, 129)]
    clones, clone = [], simple_parser.clone_session
    monkeypatch.setattr(simple_parser, "clone_session", lambda s: clones.append(s) or clone(s))
    df = stmt.execute_batch(keys)
    got = sorted(df.collect())
    assert clones == []
    assert not _reads_layout(df, layout), executed_plan(df)
    src = os.path.join(c.SF_DIR, "orders.parquet")
    files = glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True) \
        if os.path.isdir(src) else [src]
    assert scan_metrics(df)["files_read"] == len(files), executed_plan(df)
    assert got == sorted(engine.prepare(SQL, layout=False).execute_batch(keys).collect())
    stmt.close()


@pytest.mark.parametrize("sql,run", [
    # a covering batch with a NULL key, which has no bucket
    (SQL, lambda s: s.execute_batch([[k] for k in range(1, 65)] + [[None]])),
    # an IN list over every bucket
    ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey IN $1",
     lambda s: s.execute({"$1": list(range(1, 129))})),
    # the LATERAL form over every bucket
    ("SELECT count(*) AS n FROM orders WHERE o_orderkey = $1",
     lambda s: s.execute_batch([[k] for k in range(1, 129)])),
])
def test_layout_covering_values_match_flat(engine, layout, sql, run):
    stmt = engine.prepare(sql)
    assert stmt._template._narrow
    df = run(stmt)
    got = sorted(map(tuple, df.collect()))
    assert not _reads_layout(df, layout), executed_plan(df)
    assert got == sorted(map(tuple, run(engine.prepare(sql, layout=False)).collect()))
    stmt.close()


def test_layout_skipped_for_hot_templates(engine, layout):
    hot = engine.prepare(SQL, hot=True)
    assert hot._template.layouts == {}
    hot.close()


def test_layout_adopted_for_join_template(engine, layout, testdata):
    # r5: a point-JOIN whose parameterized key hits the base table's
    # layout scans the bucket-partitioned copy (fact side pruned per key).
    join = engine.prepare(
        "SELECT o_orderkey, c_name FROM orders "
        "JOIN customer ON c_custkey = o_custkey WHERE o_orderkey = $1"
    )
    assert join._template is not None and join._template.layouts
    df = join.execute([7])
    # the bucket predicate reached the scan
    filters = scan_filters(physical(df), "PartitionFilters")
    assert any("pk_bucket" in f for f in filters), executed_plan(df)
    want = engine.spark.sql(
        "SELECT o_orderkey, c_name FROM orders "
        "JOIN customer ON c_custkey = o_custkey WHERE o_orderkey = 7"
    ).collect()
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want))
    assert "pk_bucket" not in df.columns
    join.close()


def test_layout_join_template_batch(engine, layout, testdata):
    join = engine.prepare(
        "SELECT o_orderkey, c_name FROM orders "
        "JOIN customer ON c_custkey = o_custkey WHERE o_orderkey = $1"
    )
    df = join.execute_batch([[7], [11], [42]])
    want = engine.spark.sql(
        "SELECT o_orderkey, c_name FROM orders "
        "JOIN customer ON c_custkey = o_custkey "
        "WHERE o_orderkey IN (7, 11, 42)"
    ).collect()
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want))
    join.close()


def test_layout_skipped_when_key_not_parameterized(engine, layout):
    stmt = engine.prepare(
        "SELECT o_orderkey FROM orders WHERE o_custkey = $1"
    )
    assert stmt._template is None or not stmt._template.layouts


def test_non_integral_key_rejected(engine, testdata):
    import tests.conftest as c

    with pytest.raises(ValueError, match="integral"):
        engine.ensure_point_layout(
            "orders", "o_orderstatus",
            source_path=os.path.join(c.SF_DIR, "orders.parquet"),
        )


def test_unregistered_table_rejected(engine):
    with pytest.raises(ValueError, match="parquet-backed"):
        engine.ensure_point_layout("no_such_table", "x")


def test_fingerprint_invalidation(tmp_path):
    src = tmp_path / "base.parquet"
    src.write_bytes(b"v1")
    sink = tmp_path / "layout"
    sink.mkdir()
    assert layout_stale(str(sink), str(src))  # no _SUCCESS
    (sink / "_SUCCESS").write_text("")
    assert layout_stale(str(sink), str(src))  # no marker
    write_layout_marker(str(sink), str(src))
    assert not layout_stale(str(sink), str(src))
    os.utime(src, ns=(1, 1))  # regenerate in place
    assert layout_stale(str(sink), str(src))
    assert source_fingerprint(str(src)) != ""


def test_clone_session_conf_isolated(engine, layout):
    spark = engine.spark
    before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    stmt = engine.prepare(SQL)  # point lookup -> nojit on its clone
    assert stmt._template.nojit
    assert stmt._template.spark.conf.get("spark.sql.codegen.wholeStage") == "false"
    # main session conf untouched, even during/after planning
    stmt.execute({"$1": 5}).collect()
    assert spark.conf.get("spark.sql.codegen.wholeStage", "true") == before


def test_layout_refreshed_when_source_rewritten(engine, tmp_path):
    # The catalog table is dropped and re-created with the rewritten copy:
    # a statement prepared afterwards reads the new rows, also in buckets
    # the old copy did not have, and an IN list on the key still lists
    # only its buckets.
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "lifecycle.parquet")

    def write(keys, scale):
        pq.write_table(pa.table({"k": pa.array(keys, pa.int64()),
                                 "v": pa.array([k * scale for k in keys], pa.int64())}), src)
        engine.register_parquet("lifecycle_t", src)
        return engine.ensure_point_layout("lifecycle_t", "k", buckets=8)

    old = write(list(range(0, 200, 2)), 1)  # even keys: even buckets only
    try:
        assert engine.prepare("SELECT v FROM lifecycle_t WHERE k = $1").execute([4]).collect() \
            == [(4,)]
        new = write(list(range(300)), 10)
        assert (new.name, new.path) == (old.name, old.path)
        assert (old.rows, new.rows) == (100, 300)
        stmt = engine.prepare("SELECT k, v FROM lifecycle_t WHERE k = $1")
        assert stmt._template.layouts
        assert stmt.execute([251]).collect() == [(251, 2510)]
        assert stmt.execute([4]).collect() == [(4, 40)]
        narrow = engine.prepare("SELECT k, v FROM lifecycle_t WHERE k IN $1")
        assert narrow._template._narrow
        df = narrow.execute({"$1": [3, 250]})
        assert sorted(df.collect()) == [(3, 30), (250, 2500)]
        filters = scan_filters(physical(df), "PartitionFilters")
        assert any(f.startswith("pk_bucket#") and f.endswith(" IN (2,3)") for f in filters), \
            executed_plan(df)
    finally:
        shutil.rmtree(old.path, ignore_errors=True)


def test_layout_rewritten_when_bucket_count_changes(engine, tmp_path):
    # The marker records the key and the bucket count: a copy written with
    # 64 buckets is not adopted as the 8-bucket layout (key 40 would look
    # in bucket 0 of a copy that put it in bucket 40).
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "rebucket.parquet")
    pq.write_table(pa.table({"k": pa.array(range(100), pa.int64())}), src)
    engine.register_parquet("rebucket_t", src)
    wide = engine.ensure_point_layout("rebucket_t", "k", buckets=64)
    try:
        narrow = engine.ensure_point_layout("rebucket_t", "k", buckets=8)
        assert narrow.path == wide.path
        assert len(glob.glob(os.path.join(narrow.path, "pk_bucket=*"))) == 8
        stmt = engine.prepare("SELECT k FROM rebucket_t WHERE k = $1")
        assert stmt._template.layouts["rebucket_t"].buckets == 8
        assert stmt.execute([40]).collect() == [(40,)]
    finally:
        shutil.rmtree(wide.path, ignore_errors=True)

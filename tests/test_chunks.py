"""Chunk-planner correctness: the reference proves its chunking via roundtrip
checksums (test_mydumper.sh:248-249); we prove cover/disjointness directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from mydumper_spark.planner import (
    adaptive_replan,
    chunk_counts,
    plan_chunks,
    plan_integer_chunks,
    plan_multi_column_chunks,
    plan_string_chunks,
    reassemble,
    to_jdbc_options,
)


def test_integer_chunks_cover_exactly(orders):
    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=8)
    assert plan.strategy == "integer"
    assert plan.num_chunks >= 4
    total = orders.count()
    assert reassemble(orders, plan).count() == total
    counts = chunk_counts(orders, plan)
    assert sum(counts) == total  # disjoint AND covering


def test_integer_chunks_equi_depth_balance(orders):
    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=8)
    counts = chunk_counts(orders, plan)
    total = orders.count()
    # equi-depth: no chunk more than 3x the ideal share
    assert max(counts) <= 3 * total / len(counts)


def test_uniform_chunks_cover(orders):
    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=6, equi_depth=False)
    assert reassemble(orders, plan).count() == orders.count()


def test_integer_chunks_with_nulls(spark):
    df = spark.createDataFrame(
        [(None, "a"), (1, "b"), (5, "c"), (9, "d"), (100, "e")], "k int, v string"
    )
    plan = plan_integer_chunks(df, "k", num_chunks=2)
    assert reassemble(df, plan).count() == 5  # NULL row lands in first chunk


def test_string_chunks_cover(customer):
    plan = plan_string_chunks(customer, "c_name", num_chunks=6)
    assert plan.strategy == "string"
    assert reassemble(customer, plan).count() == customer.count()
    assert sum(chunk_counts(customer, plan)) == customer.count()


def test_multi_column_chunks_cover(lineitem):
    plan = plan_multi_column_chunks(
        lineitem, "l_orderkey", "l_linenumber", inner_chunks=2, max_outer=5000
    )
    assert plan.strategy in ("multi", "integer")
    assert sum(chunk_counts(lineitem, plan)) == lineitem.count()


def test_plan_chunks_dispatch(orders, customer):
    assert plan_chunks(orders, "o_orderkey", 4).strategy == "integer"
    assert plan_chunks(customer, "c_name", 4).strategy == "string"


def test_adaptive_replan_splits_fat_chunks(orders):
    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=2)
    total = orders.count()
    replanned = adaptive_replan(orders, plan, max_rows_per_chunk=total // 4)
    assert replanned.num_chunks > plan.num_chunks
    assert sum(chunk_counts(orders, replanned)) == total


def test_jdbc_options_integer(orders):
    """Integer plans ship their PREDICATES (one per chunk), never
    lowerBound/upperBound: Spark would regenerate uniform strides from
    the bounds, discarding the equi-depth quantile boundaries."""
    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=4)
    opts = to_jdbc_options(plan, "jdbc:mysql://h/db", "orders")
    assert "lowerBound" not in opts and "column" not in opts
    assert len(opts["predicates"]) == plan.num_chunks
    assert opts["predicates"] == plan.predicates


def test_jdbc_options_predicates(customer):
    plan = plan_string_chunks(customer, "c_name", num_chunks=4)
    opts = to_jdbc_options(plan, "jdbc:mysql://h/db", "customer")
    assert len(opts["predicates"]) == plan.num_chunks


def test_single_value_column_degenerates(spark):
    df = spark.createDataFrame([(1,), (1,), (1,)], "k int")
    plan = plan_integer_chunks(df, "k", num_chunks=4)
    assert plan.strategy == "none"
    assert reassemble(df, plan).count() == 3


def test_partition_chunks_cover(spark):
    from mydumper_spark.planner import plan_partition_chunks

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, None), (5, "c")], ["id", "grp"]
    )
    plan = plan_partition_chunks(df, "grp")
    assert plan.strategy == "partition"
    assert reassemble(df, plan).count() == 5
    assert sum(chunk_counts(df, plan)) == 5  # disjoint and covering, nulls included


def test_partition_chunks_regex_filter(spark):
    from mydumper_spark.planner import plan_partition_chunks

    df = spark.createDataFrame(
        [(1, "p_2023"), (2, "p_2024"), (3, "p_2023")], ["id", "grp"]
    )
    plan = plan_partition_chunks(df, "grp", pattern="2023")
    assert plan.predicates == ["grp = 'p_2023'"]
    assert reassemble(df, plan).count() == 2


def test_salted_join_equals_plain_join(lineitem, orders):
    from mydumper_spark.util import salted_join

    li = lineitem.select("l_orderkey", "l_quantity")
    od = orders.select("o_orderkey", "o_orderpriority").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    plain = li.join(od, "l_orderkey").groupBy("o_orderpriority").count()
    salted = salted_join(li, od, "l_orderkey", salt_factor=4).groupBy(
        "o_orderpriority"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


# -- S11 consistent-snapshot fencing (executable driver loop) ----------------


class _FakeConn:
    """Injectable connection: scripted gtid_executed per probe, records
    every statement executed."""

    def __init__(self, gtids):
        self.gtids = list(gtids)
        self.log = []

    def execute(self, sql):
        self.log.append(sql)
        if "gtid_executed" in sql:
            g = self.gtids.pop(0) if len(self.gtids) > 1 else self.gtids[0]
            return [(g,)]
        return []


def test_snapshot_fence_first_try():
    from mydumper_spark.sources.jdbc_source import establish_consistent_snapshot

    control = _FakeConn(["uuid:1-100"])
    workers = [_FakeConn(["x"]), _FakeConn(["x"])]
    res = establish_consistent_snapshot(control, workers)
    assert res.attempts == 1 and res.gtid == "uuid:1-100"
    # every worker got the full snapshot init, no rollbacks
    for w in workers:
        assert any("CONSISTENT SNAPSHOT" in s for s in w.log)
        assert "ROLLBACK" not in w.log


def test_snapshot_fence_retries_on_gtid_advance():
    from mydumper_spark.sources.jdbc_source import establish_consistent_snapshot

    # first attempt: gtid advances between probes -> rollback + retry;
    # second attempt: stable
    control = _FakeConn(["uuid:1-100", "uuid:1-101", "uuid:1-101", "uuid:1-101"])
    workers = [_FakeConn(["x"])]
    res = establish_consistent_snapshot(control, workers)
    assert res.attempts == 2 and res.gtid == "uuid:1-101"
    assert workers[0].log.count("ROLLBACK") == 1
    assert sum("CONSISTENT SNAPSHOT" in s for s in workers[0].log) == 2


def test_snapshot_fence_gives_up():
    import pytest

    from mydumper_spark.sources.jdbc_source import (
        SnapshotError,
        establish_consistent_snapshot,
    )

    control = _FakeConn([f"uuid:1-{i}" for i in range(100)])  # never stable
    with pytest.raises(SnapshotError, match="FTWRL"):
        establish_consistent_snapshot(control, [_FakeConn(["x"])], max_attempts=3)


# -- S11 fence wired into the dump path (engine._open_source dispatcher) -----


class _ProbeConn:
    """Fence-dispatcher fake: answers any SELECT probe from a script,
    records every statement."""

    def __init__(self, gtids):
        self.gtids = list(gtids)
        self.log = []

    def execute(self, sql):
        self.log.append(sql)
        if sql.strip().upper().startswith("SELECT"):
            g = self.gtids.pop(0) if len(self.gtids) > 1 else self.gtids[0]
            return [(g,)]
        return []


class _Factory:
    def __init__(self, conns):
        self.conns = list(conns)
        self.made = []

    def __call__(self):
        c = self.conns.pop(0)
        self.made.append(c)
        return c


def _dialect(product, major=8, secondary=0, revision=30):
    from mydumper_spark.sources.server_detect import ServerDialect

    return ServerDialect(product=product, major=major,
                         secondary=secondary, revision=revision)


def test_fence_for_dump_runs_and_retries_for_mysql():
    """The dump-path dispatcher runs the GTID fence for MySQL-family
    dialects with the mysql probe spelling, including the retry-on-advance
    behavior — the round-5 wiring gap (the fence existed but nothing in the
    dump lifecycle called it)."""
    from mydumper_spark.sources.jdbc_source import snapshot_fence_for_dump
    from mydumper_spark.sources.server_detect import ServerProduct

    control = _ProbeConn(["uuid:1-100", "uuid:1-101", "uuid:1-101", "uuid:1-101"])
    workers = [_ProbeConn(["x"]), _ProbeConn(["x"])]
    fac = _Factory([control] + workers)
    res = snapshot_fence_for_dump(
        _dialect(ServerProduct.MYSQL), fac, num_workers=2
    )
    assert res.attempts == 2 and res.gtid == "uuid:1-101"
    assert all("gtid_executed" in s for s in control.log)
    for w in workers:
        # one retry ROLLBACK + the immediate post-establishment release
        # (worker snapshots must not pin the undo horizon through the dump)
        assert w.log.count("ROLLBACK") == 2
        assert w.log[-1] == "ROLLBACK"
        assert sum("CONSISTENT SNAPSHOT" in s for s in w.log) == 2
    assert res.workers == []  # released; only control stays for verify_after


def test_fence_for_dump_mariadb_probe_spelling():
    from mydumper_spark.sources.jdbc_source import snapshot_fence_for_dump
    from mydumper_spark.sources.server_detect import ServerProduct

    control = _ProbeConn(["0-1-100"])
    workers = [_ProbeConn(["x"])]
    fac = _Factory([control] + workers)
    # MariaDB 10.3: strategy ftwrl_or_gtid (backup_stage needs >= 10.4)
    res = snapshot_fence_for_dump(
        _dialect(ServerProduct.MARIADB, 10, 3, 0), fac, num_workers=1
    )
    assert res is not None
    # the position VARIABLE read directly — BINLOG_GTID_POS(file, offset)
    # is a 2-arg converter; calling it on the GTID string is an arity
    # error on every MariaDB probe
    assert all(s == "SELECT @@gtid_binlog_pos" for s in control.log)


def test_fence_for_dump_skips_non_mysql_and_snapshot_everywhere():
    """No fence (and no connections opened) for engines with no binlog
    fence (DuckDB/ClickHouse) or snapshot-everywhere semantics (TiDB)."""
    from mydumper_spark.sources.jdbc_source import snapshot_fence_for_dump
    from mydumper_spark.sources.server_detect import ServerProduct

    for product in (ServerProduct.DUCKDB, ServerProduct.CLICKHOUSE,
                    ServerProduct.TIDB):
        fac = _Factory([])
        assert snapshot_fence_for_dump(_dialect(product), fac) is None
        assert fac.made == []


def test_fence_for_dump_warns_without_factory():
    import warnings as _warnings

    from mydumper_spark.sources.jdbc_source import snapshot_fence_for_dump
    from mydumper_spark.sources.server_detect import ServerProduct

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert snapshot_fence_for_dump(_dialect(ServerProduct.MYSQL), None) is None
    assert any("NOT fenced" in str(w.message) for w in caught)


def test_pick_chunk_column_profile_beats_name_heuristic(spark, tmp_path):
    """O6 with profile stats: a PK-less table whose name-matching integral
    column is low-cardinality must chunk on the genuinely high-cardinality
    column when a prior dump's _profile.json is supplied — the reference's
    index-cardinality pick (mydumper_table.c:181-239) fed from our own
    profiles instead of information_schema.STATISTICS."""
    from pyspark.sql import types as T

    from mydumper_spark.catalog import TableMeta, load_profiles, pick_chunk_column
    from mydumper_spark.engine import DumpConfig, dump

    schema = T.StructType([
        T.StructField("status_id", T.LongType()),   # matches the id$ heuristic
        T.StructField("seq", T.LongType()),         # the real key
        T.StructField("payload", T.StringType()),
    ])
    meta = TableMeta(database="d", name="events_log", primary_key=[],
                     schema=schema)
    # without stats the name heuristic wins (all we can know)
    assert pick_chunk_column(meta) == "status_id"

    # a real profiled dump supplies the cardinality evidence
    df = spark.range(1000).select(
        (F.col("id") % 3).alias("status_id"),
        F.col("id").alias("seq"),
        F.lit("x").alias("payload"),
    )
    src = str(tmp_path / "psrc")
    df.write.parquet(f"{src}/events_log.parquet")
    out = str(tmp_path / "pdump")
    dump(spark, src, DumpConfig(output_dir=out, profile=True))
    profiles = load_profiles(out)
    assert pick_chunk_column(meta, profile=profiles["events_log"]) == "seq"
    # a null-majority high-cardinality column is rejected as a chunk key
    prof = [
        {"column_name": "status_id", "n_rows": 1000, "n_distinct": 3, "n_nulls": 0},
        {"column_name": "seq", "n_rows": 1000, "n_distinct": 900, "n_nulls": 800},
    ]
    assert pick_chunk_column(meta, profile=prof) == "status_id"
    assert load_profiles(str(tmp_path / "nope")) == {}


def test_pick_chunk_column_scale0_decimal_key():
    """A DECIMAL(20,0) primary key — Spark's type for MySQL BIGINT UNSIGNED
    and DuckDB BIGINT read over JDBC — is an integral chunk key; a
    fractional DECIMAL(10,2) key never is (the integral row_id wins)."""
    from pyspark.sql import types as T

    from mydumper_spark.catalog import TableMeta, pick_chunk_column

    def meta(pk_type):
        return TableMeta(database="d", name="t", primary_key=["pk"],
                         schema=T.StructType([
                             T.StructField("pk", pk_type),
                             T.StructField("row_id", T.IntegerType()),
                         ]))

    assert pick_chunk_column(meta(T.DecimalType(20, 0))) == "pk"
    assert pick_chunk_column(meta(T.DecimalType(10, 2))) == "row_id"


def test_range_predicates_unbounded_ends_and_backslash_quoting(spark):
    """Chunk plans are loss-proof by construction: the first/last chunks
    are UNBOUNDED (`< b1` / `>= b(n-1)`), so every row falls in exactly
    one chunk no matter how the evaluating engine parses literals or
    orders its collation — clamped ends would silently drop rows the
    server orders outside the planner's [min, max]. Backslashes in
    boundary values are escaped for backslash-escaping lexers (Spark,
    MySQL)."""
    from mydumper_spark.planner.chunks import (
        _quote, _ranges_to_predicates, chunk_counts, plan_string_chunks,
    )

    preds = _ranges_to_predicates("c", ["b", "m", "t"], False)
    assert preds[0] == "c < 'm'"            # no >= 'b' clamp
    assert preds[-1] == "c >= 'm'"          # no <= 't' clamp
    assert _quote("a\\b") == "'a\\\\b'"
    assert _quote("o'x") == "'o''x'"

    # rows OUTSIDE the planned boundaries (simulating collation drift or
    # post-plan writes) still land in exactly one chunk
    df = spark.createDataFrame(
        [("B",), ("a",), ("m",), ("z",)], "c string")
    counts = chunk_counts(df, type("P", (), {
        "predicates": _ranges_to_predicates("c", ["a", "m"], False)})())
    assert sum(counts) == 4                  # nothing lost, nothing doubled

    plan = plan_string_chunks(df, "c", num_chunks=2)
    assert sum(chunk_counts(df, plan)) == 4


def test_mysql_props_allow_multi_queries_for_snapshot_init():
    """The consistent-snapshot sessionInitStatement is a 3-statement
    compound; Connector/J and MariaDB-J reject multi-statement strings
    unless allowMultiQueries is set — without it every partition open
    fails on a real server. Single-statement inits (TiDB) don't need it,
    and non-MySQL schemes must not receive unknown properties."""
    from mydumper_spark.sources.jdbc_source import JdbcSourceConfig

    p = JdbcSourceConfig(url="jdbc:mysql://h/db",
                         consistent_snapshot=True).properties()
    assert "CONSISTENT SNAPSHOT" in p["sessionInitStatement"]
    assert p["allowMultiQueries"] == "true"

    p2 = JdbcSourceConfig(url="jdbc:mysql://h/db", consistent_snapshot=True,
                          tidb_snapshot="2024-01-01 00:00:00").properties()
    assert ";" not in p2["sessionInitStatement"]
    assert "allowMultiQueries" not in p2

    p3 = JdbcSourceConfig(url="jdbc:duckdb:/x", consistent_snapshot=False
                          ).properties()
    assert "allowMultiQueries" not in p3 and "sessionInitStatement" not in p3


def test_snapshot_fence_releases_connections_on_failure():
    """A fence that exhausts its attempts must roll back and CLOSE every
    connection it opened — leaked REPEATABLE-READ transactions pin the
    source's undo horizon on exactly the busy-primary path where the
    fence fails."""
    import pytest

    from mydumper_spark.sources.jdbc_source import (
        SnapshotError, snapshot_fence_for_dump,
    )
    from mydumper_spark.sources.server_detect import ServerProduct

    class _ClosableConn(_ProbeConn):
        def __init__(self, gtids):
            super().__init__(gtids)
            self.closed = False

        def close(self):
            self.closed = True

    control = _ClosableConn([f"uuid:1-{i}" for i in range(100)])
    workers = [_ClosableConn(["x"]), _ClosableConn(["x"])]
    fac = _Factory([control] + workers)
    with pytest.raises(SnapshotError):
        snapshot_fence_for_dump(
            _dialect(ServerProduct.MYSQL, 8, 0, 30), fac, num_workers=2,
            max_attempts=2)
    assert control.closed and all(w.closed for w in workers)
    for w in workers:
        assert "ROLLBACK" in w.log


def test_string_chunk_coverage_hostile_values_cross_engine(spark):
    """Randomized loss-proof check with hostile boundary values (quotes,
    backslashes, unicode, SQL metacharacters), evaluated by BOTH lexer
    families: Spark (backslash-escaping, like MySQL) and DuckDB (ANSI —
    backslash is a plain character). The unbounded-ends design means the
    union of chunk predicates must tile the table exactly in EITHER
    engine even where the two parse the same boundary literal to
    different values (sizes may drift; coverage may not)."""
    import random

    import duckdb

    from mydumper_spark.planner.chunks import plan_string_chunks

    rng = random.Random(2)
    hostile = ["a'b", 'a"b', "a\\b", "a\\'b", "", " ", "ключ", "émile",
               "NULL", "a%b", "\\", "''", "\\\\'", "zz", "ZZ"]
    con = duckdb.connect()
    for trial in range(4):
        vals = rng.sample(hostile, k=rng.randint(3, len(hostile)))
        rows = [(i, rng.choice(vals) + str(rng.randint(0, 9)))
                for i in range(40)]
        rows += [(100 + j, v) for j, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "id bigint, k string")
        plan = plan_string_chunks(df, "k", num_chunks=rng.randint(2, 5))
        # Spark-evaluated
        total = df.count()
        assert sum(df.where(F.expr(p)).count()
                   for p in plan.predicates) == total, plan.predicates
        # DuckDB-evaluated (ANSI backslash semantics)
        pdf = df.toPandas()
        con.register("t", pdf)
        covered = sum(
            con.execute(f"SELECT count(*) FROM t WHERE {p}").fetchone()[0]
            for p in plan.predicates)
        con.unregister("t")
        assert covered == total, plan.predicates


def test_integer_chunks_exact_mode_routes_to_approx_quantile(orders, monkeypatch):
    """relative_error <= 0 is approxQuantile's EXACT mode; the r14 fused
    percentile_approx fast path cannot express it (its accuracy clamp
    silently approximates), so the planner must route it through the
    approxQuantile fallback (r15, ADVICE)."""
    cls = type(orders)  # the concrete (classic) DataFrame class

    calls: list[float] = []
    orig = cls.approxQuantile

    def spy(self, col, probs, err):
        calls.append(err)
        return orig(self, col, probs, err)

    monkeypatch.setattr(cls, "approxQuantile", spy)
    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=4,
                               relative_error=0.0)
    assert calls == [0.0]          # exact mode reached approxQuantile
    assert plan.strategy == "integer"
    assert reassemble(orders, plan).count() == orders.count()

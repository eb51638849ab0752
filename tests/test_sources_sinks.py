"""Source/sink plumbing tests: paginated source partitioning and
row-exactness, parquet sink roundtrip with partition pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_project_spark.sources.paginated import (
    SyntheticShopFetcher,
    register_paginated_source,
)
from etl_project_spark.sources.sinks import write_parquet


def _src(spark, **opts):
    register_paginated_source(spark)
    r = spark.read.format("paginated_table")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_source_rows_match_fetcher_exactly(spark):
    df = _src(spark, n_rows=257, rows_per_page=100)
    got = sorted(tuple(r) for r in df.collect())
    fetcher = SyntheticShopFetcher(n_rows=257, rows_per_page=100)
    want = sorted(
        row for p in range(3) for row in fetcher.fetch_page(p)
    )
    assert got == want
    assert df.columns == list(fetcher.headers())


def test_source_concurrency_caps_partitions(spark):
    df = _src(spark, n_rows=1000, rows_per_page=10, max_concurrency=4)
    assert df.rdd.getNumPartitions() == 4  # 100 pages over 4 partitions
    assert df.count() == 1000


def test_source_single_page_remainder(spark):
    assert _src(spark, n_rows=5, rows_per_page=100).count() == 5


def test_sentinel_mix_is_stable(spark):
    """The sentinel convention (packed / '' / 'No disponible') must stay
    deterministic — enrichment oracle parity depends on it."""
    df = _src(spark, n_rows=1000)
    counts = {
        r.s: r["count"]
        for r in df.groupBy(
            F.when(F.col("Localizar") == "No disponible", "nb")
            .when(F.col("Localizar") == "", "miss")
            .otherwise("packed")
            .alias("s")
        ).count().collect()
    }
    assert counts["packed"] > counts["nb"] > counts["miss"] > 0


def _json_table_server(headers: list[str], data: list[list], page_size: int):
    """Fixture server for :class:`HttpFetcher`'s ``/meta`` +
    ``/page/{i}`` JSON contract; ``srv.paths`` lists the requested
    paths."""
    import http.server
    import json
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.server.paths.append(self.path)
            if self.path == "/meta":
                body = json.dumps(
                    {"headers": headers, "total_rows": len(data), "page_size": page_size}
                )
            elif self.path.startswith("/page/"):
                p = int(self.path.rsplit("/", 1)[1])
                body = json.dumps(data[p * page_size : (p + 1) * page_size])
            else:
                self.send_error(404)
                return
            raw = body.encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(raw)))
            self.end_headers()
            self.wfile.write(raw)

        def log_message(self, *a):  # keep test output clean
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.paths = []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_http_fetcher_source_reads_fixture_server(spark):
    """The non-synthetic fetcher: a local HTTP server implements the
    /meta + /page/{i} contract; the same DataSource reads through it —
    schema from /meta, rows page-partitioned, values exact."""
    headers = ["name", "city", "coord"]
    data = [[f"Shop {i}", f"City {i % 5}", f"{i}.0,{-i}.0"] for i in range(23)]
    srv = _json_table_server(headers, data, page_size=10)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = _src(spark, base_url=url, max_concurrency=3)
        assert df.columns == headers
        assert df.rdd.getNumPartitions() == 3  # 3 pages, one per partition
        got = sorted(tuple(r) for r in df.collect())
        assert got == sorted(tuple(r) for r in data)
    finally:
        srv.shutdown()
        srv.server_close()


def _html_shop_server(n_rows: int, page_size: int):
    """Fixture server emitting the reference site's DataTables shape
    (flows/etl.py:92-183): 4 control `<th>`s before the data headers,
    a `table_id_info` line with es-AR dot-grouped thousands, and a
    `boton_ir` locate button whose onclick carries the coordinates.
    ``srv.paths`` lists the requested paths."""
    import http.server
    import threading
    from urllib.parse import parse_qs, urlparse

    def row_html(i: int) -> str:
        if i % 10 == 8:
            locate = "<td>No disponible</td>"
        elif i % 10 == 9:  # button present but onclick regex-misses
            locate = '<td><a class="boton_ir" onclick="ir()">ir</a></td>'
        else:
            locate = (
                f'<td><a class="boton_ir" '
                f"onclick=\"ir({-34.0 - i / 1000:.3f}, {-58.0 - i / 997:.3f})\">"
                "ir</a></td>"
            )
        return (
            f"<tr><td>Shop {i:04d}</td><td>Street {i % 50}</td>"
            f"<td>Locality {i % 7}</td>{locate}</tr>"
        )

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.server.paths.append(self.path)
            q = parse_qs(urlparse(self.path).query)
            page = int(q.get("page", ["0"])[0])
            lo, hi = page * page_size, min((page + 1) * page_size, n_rows)
            grouped = f"{n_rows:,}".replace(",", ".")  # 1234 -> 1.234
            body = (
                "<html><body><table id='table_id' class='row-border'>"
                "<thead><tr>"
                "<th>c1</th><th>c2</th><th>c3</th><th>c4</th>"  # control cols
                "<th>Comercio</th><th>Dirección</th><th>Localidad</th>"
                "<th>Localizar</th></tr></thead><tbody>"
                + "".join(row_html(i) for i in range(lo, hi))
                + "</tbody></table>"
                f"<div id='table_id_info'>Mostrando {lo + 1} a {hi} de "
                f"{grouped} registros</div></body></html>"
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.paths = []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_html_fetcher_source_scrapes_fixture_site(spark):
    """End-to-end over real HTTP + real HTML: header discovery skips
    the 4 control columns, the cardinality probe parses dot-grouped
    thousands, coordinates come from the onclick regex with the '' /
    'No disponible' sentinel convention intact, and pages partition."""
    srv = _html_shop_server(n_rows=1234, page_size=100)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/table"
        df = _src(spark, base_url=url, format="html", max_concurrency=5)
        assert df.columns == ["Comercio", "Dirección", "Localidad", "Localizar"]
        assert df.rdd.getNumPartitions() == 5  # 13 pages over 5 partitions
        rows = df.collect()
        assert len(rows) == 1234
        byname = {r["Comercio"]: r for r in rows}
        assert byname["Shop 0001"]["Localizar"] == "-34.001,-58.001"
        assert byname["Shop 0008"]["Localizar"] == "No disponible"
        assert byname["Shop 0009"]["Localizar"] == ""  # regex miss
        assert byname["Shop 1233"]["Comercio"] == "Shop 1233"  # last page partial
    finally:
        srv.shutdown()
        srv.server_close()


def test_one_page0_probe_per_load_and_execution(spark):
    """``schema()`` at ``load()`` probes page 0 (HTML) or ``/meta``
    (JSON) once; the read planning and the partition reading page 0
    reuse that probe, so one load plus one execution requests every
    page exactly once."""
    from collections import Counter
    from urllib.parse import parse_qs, urlparse

    html = _html_shop_server(n_rows=450, page_size=100)
    data = [[f"s{i}", f"{i}"] for i in range(45)]
    js = _json_table_server(["name", "n"], data, page_size=10)
    try:
        port = html.server_address[1]
        df = _src(
            spark, base_url=f"http://127.0.0.1:{port}/table", format="html",
            max_concurrency=2,
        )
        assert len(df.collect()) == 450
        pages = Counter(int(parse_qs(urlparse(p).query)["page"][0]) for p in html.paths)
        assert pages == Counter(range(5))

        df = _src(spark, base_url=f"http://127.0.0.1:{js.server_address[1]}", max_concurrency=2)
        assert sorted(tuple(r) for r in df.collect()) == sorted(map(tuple, data))
        assert Counter(js.paths) == Counter(["/meta"] + [f"/page/{i}" for i in range(5)])
    finally:
        for srv in (html, js):
            srv.shutdown()
            srv.server_close()


def test_partitions_carry_page0_rows_only_where_read():
    """A partition that does not read page 0 ships without its cached
    rows (only the header metadata it needs), and the pickled reader,
    which Spark puts into the read function of every task, carries no
    fetcher."""
    import pickle

    from pyspark.sql.types import StructType

    from etl_project_spark.sources.paginated import HtmlTableFetcher, PaginatedTableReader

    srv = _html_shop_server(n_rows=450, page_size=100)
    try:
        f = HtmlTableFetcher(base_url=f"http://127.0.0.1:{srv.server_address[1]}/table")
        schema = StructType()
        for h in f.headers():
            schema = schema.add(h, "string")
        reader = PaginatedTableReader(f, 2, schema)
        first, second = reader.partitions()
        assert (first.first_page, second.first_page) == (0, 3)
        assert first.fetcher._page0_doc["rows"] is not None
        assert second.fetcher._page0_doc["rows"] is None
        assert second.fetcher.headers() == f.headers()
        assert pickle.loads(pickle.dumps(reader)).fetcher is None
        assert [r[0] for r in second.fetcher.fetch_page(3)][:1] == ["Shop 0300"]
        assert len(srv.paths) == 2  # page 0 once, then page 3
    finally:
        srv.shutdown()
        srv.server_close()


def test_html_fetcher_metadata_semantics():
    """Unit-level checks of the reference's scraping rules on the
    fetcher itself: th[4:] header slice, dot-stripped count regex
    (flows/etl.py:110,134-135)."""
    from etl_project_spark.sources.paginated import HtmlTableFetcher

    srv = _html_shop_server(n_rows=2500, page_size=250)
    try:
        f = HtmlTableFetcher(
            base_url=f"http://127.0.0.1:{srv.server_address[1]}/table"
        )
        assert f.total_rows() == 2500  # "2.500" parsed dot-stripped
        assert f.page_size() == 250
        assert f.headers()[0] == "Comercio"
        page1 = f.fetch_page(1)
        assert len(page1) == 250 and page1[0][0] == "Shop 0250"
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_fetcher_refresh_discovers_growth():
    """Streaming contract: refresh() must re-probe /meta so a growing
    endpoint's new pages are discovered (the memoized metadata would
    otherwise freeze total_rows at the first snapshot forever)."""
    import http.server
    import json
    import threading

    calls = {"n": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            calls["n"] += 1
            body = json.dumps(
                {"headers": ["a"], "total_rows": 10 * calls["n"], "page_size": 10}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    from etl_project_spark.sources.paginated import HttpFetcher

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        f = HttpFetcher(base_url=f"http://127.0.0.1:{srv.server_address[1]}")
        assert f.total_rows() == 10
        assert f.total_rows() == 10  # memoized between triggers
        f.refresh()
        assert f.total_rows() == 20  # re-probed after refresh
    finally:
        srv.shutdown()
        srv.server_close()


def test_reader_rows_equal_concatenated_fetch_pages(spark):
    """For every fetcher, a scan returns exactly the rows ``fetch_page``
    gives over all pages — with a partial last page and for a zero-row
    table — and JSON cells that are not strings land as PySpark's row
    conversion stores them: 5 → '5', 1.5 → '1.5', true → 'true',
    null → NULL."""
    import math
    from collections import Counter

    from etl_project_spark.sources.paginated import HtmlTableFetcher, HttpFetcher

    def as_spark_str(v):
        return None if v is None else str(v).lower() if isinstance(v, bool) else str(v)

    def pages_concat(f):
        n_pages = max(1, math.ceil(f.total_rows() / f.page_size()))
        rows = [row for p in range(n_pages) for row in f.fetch_page(p)]
        return Counter(tuple(as_spark_str(v) for v in row) for row in rows)

    def scan(**opts):
        df = _src(spark, **opts)
        return df.columns, Counter(tuple(r) for r in df.collect())

    for n in (257, 0):
        f = SyntheticShopFetcher(n_rows=n, rows_per_page=100)
        assert scan(n_rows=n, rows_per_page=100) == (f.headers(), pages_concat(f))

    headers = ["a", "b", "c", "d"]
    mixed = [[5, 1.5, True, None]] + [[f"s{i}", -i, i % 2 == 0, f"t{i}"] for i in range(9)]
    for data in (mixed, []):
        srv = _json_table_server(headers, data, page_size=4)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            cols, got = scan(base_url=url, max_concurrency=2)
            assert (cols, got) == (headers, pages_concat(HttpFetcher(base_url=url)))
            assert sum(got.values()) == len(data)
            if data:
                assert got[("5", "1.5", "true", None)] == 1
        finally:
            srv.shutdown()
            srv.server_close()

    for n in (1234, 0):
        srv = _html_shop_server(n_rows=n, page_size=100)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/table"
            cols, got = scan(base_url=url, format="html", max_concurrency=4)
            f = HtmlTableFetcher(base_url=url)
            assert (cols, got) == (f.headers(), pages_concat(f))
            assert sum(got.values()) == n
        finally:
            srv.shutdown()
            srv.server_close()


def test_jdbc_sink_roundtrip_live(spark):
    """K1/K2 against a REAL database — always-on: Derby's embedded
    engine ships in pyspark's jars (derby/derbytools/derbyshared
    10.16), so `jdbc:derby:memory:` gives a live in-process JDBC
    target with zero external setup.  ≙ reference flows/etl.py:244-286
    (to_sql replace + 5000-row chunked inserts).

    Exercises DDL-from-schema overwrite (K1) then chunked batchsize
    append (K2) and reads the table back for an exact count+values
    check.  SPARK_GRAFT_JDBC_URL still overrides to point at an
    external server (Postgres etc.) with its driver on --jars.
    """
    from etl_project_spark.catalog import read_table
    from etl_project_spark.sources.sinks import write_jdbc
    from tests.conftest import SF_ORACLE

    url = os.environ.get(
        "SPARK_GRAFT_JDBC_URL", "jdbc:derby:memory:sparkgraft;create=true"
    )
    props = (
        {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        if url.startswith("jdbc:derby:")
        else {}
    )
    src = read_table(spark, SF_ORACLE, "nation")
    write_jdbc(src, url, "nation_sink", mode="overwrite", num_partitions=2,
               properties=props)  # K1: DDL from schema, replace
    write_jdbc(src, url, "nation_sink", mode="append", batchsize=7,
               properties=props)  # K2: chunked batched append
    back = (
        spark.read.format("jdbc")
        .options(url=url, dbtable="nation_sink", **props)
        .load()
    )
    assert back.count() == 2 * src.count()
    assert sorted(back.columns) == sorted(c.lower() for c in src.columns) or sorted(
        back.columns
    ) == sorted(src.columns)
    # values survive the roundtrip: each source row appears exactly twice
    want = sorted(tuple(r) for r in src.collect()) * 2
    got = sorted(
        tuple(r) for r in back.select(*src.columns).collect()
    )
    assert sorted(want) == got


def test_parquet_sink_roundtrip_with_partition_pruning(spark, tmp_path):
    df = _src(spark, n_rows=400).withColumn(
        "bucket", (F.length("Comercio") + F.col("Localizar").isNull().cast("int")) % 2
    )
    out = str(tmp_path / "shops")
    write_parquet(df, out, partition_by=["Localidad"], max_records_per_file=100)
    back = spark.read.parquet(out)
    assert back.count() == 400
    # partitioned layout exists and pruning reads a subset of files
    dirs = [d for d in os.listdir(out) if d.startswith("Localidad=")]
    assert len(dirs) > 1
    one = back.filter(F.col("Localidad") == "Locality 7")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() > 0


def test_csv_json_roundtrip(spark, tmp_path):
    from etl_project_spark.catalog import read_table
    from etl_project_spark.sources.sinks import read_text_format, write_text_format
    from tests.conftest import SF_ORACLE

    src = read_table(spark, SF_ORACLE, "nation")
    want = sorted(tuple(r) for r in src.collect())
    for fmt in ("csv", "json"):
        path = str(tmp_path / fmt)
        write_text_format(src, path, format=fmt)
        back = read_text_format(spark, path, format=fmt, schema=src.schema)
        assert back.schema == src.schema
        assert sorted(tuple(r) for r in back.collect()) == want


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink roundtrip: values exact, and a filter on the readback
    reaches the ORC scan as a pushed filter (same contract as parquet)."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.sources.sinks import write_orc
    from tests.conftest import SF_ORACLE

    src = read_table(spark, SF_ORACLE, "supplier")
    out = str(tmp_path / "supplier_orc")
    write_orc(src, out)
    back = spark.read.orc(out)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in src.collect()
    )
    plan = (
        back.filter(F.col("s_suppkey") == 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "s_suppkey" in plan.split("PushedFilters")[1].split("]")[0]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned parquet write → reads with a partition
    predicate must prune at planning time (PartitionFilters, not a
    post-scan filter) — the layout contract that makes 100 TB scans
    skip data."""
    from etl_project_spark.catalog import read_table
    from tests.conftest import SF_ORACLE

    out = str(tmp_path / "orders_by_status")
    orders = read_table(spark, SF_ORACLE, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(out)

    back = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    want = orders.filter("o_orderstatus = 'F'").count()
    assert back.count() == want


def test_catalog_errors_are_clean(spark):
    """Unknown table → KeyError naming the options; missing sf dir →
    Spark's AnalysisException at plan time (not a mid-job task crash)."""
    import pytest
    from pyspark.errors import AnalysisException

    from etl_project_spark.catalog import read_table

    with pytest.raises(KeyError, match="unknown table"):
        read_table(spark, "/root/testdata/sf0.01", "nope")
    with pytest.raises(AnalysisException):
        read_table(spark, "/root/testdata/sf-does-not-exist", "orders")


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """bucketBy co-located join: two tables bucketed 8-ways on the join
    key must sort-merge join with NO Exchange — the pre-partitioned
    layout that turns a 100 TB fact⋈fact into a shuffle-free zip."""
    from etl_project_spark.catalog import read_table
    from tests.conftest import SF_ORACLE

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = read_table(spark, SF_ORACLE, "orders")
        lineitem = read_table(spark, SF_ORACLE, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        for df, name, key in (
            (orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey"),
            (lineitem, "b_lineitem", "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", str(tmp_path / name))
                .saveAsTable(name)
            )
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dynamic_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Dynamic partition pruning: joining a partitioned fact against a
    FILTERED dim must inject a runtime subquery into the fact's
    PartitionFilters (dynamicpruning#...), so only matching partitions
    are scanned — at 100 TB the difference between reading one date's
    directory and the whole table when the filter is only known through
    the dim."""
    from etl_project_spark.catalog import read_table
    from tests.conftest import SF_ORACLE

    out = str(tmp_path / "orders_part")
    orders = read_table(spark, SF_ORACLE, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(out)

    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "critical"), ("5-LOW", "deferred")],
        "o_orderpriority string, tier string",
    ).filter(F.col("tier") == "critical")

    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(dim, "o_orderpriority").groupBy("tier").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    rows = {r.tier: r["count"] for r in joined.collect()}
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert rows == {"critical": want}


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Small-files compaction: a fragmented layout (one file per ~50
    rows) is rewritten to the target file count with identical data."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.sources.sinks import compact_parquet, write_parquet
    from tests.conftest import SF_ORACLE

    src = read_table(spark, SF_ORACLE, "supplier")
    out = str(tmp_path / "fragmented")
    write_parquet(src.repartition(8), out, max_records_per_file=20)
    before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert before > 3  # genuinely fragmented

    want = sorted(tuple(r) for r in src.collect())
    after = compact_parquet(
        spark, out, target_records_per_file=1000, sort_within_by=["s_suppkey"]
    )
    assert after < before
    back = spark.read.parquet(out)
    assert sorted(tuple(r) for r in back.collect()) == want


def test_backfill_overwrites_only_named_partitions(spark, tmp_path):
    """Idempotent daily backfill: rewriting one day's partition must
    not touch sibling days (dynamic partition overwrite), while plain
    overwrite-mode would truncate the whole table."""
    from etl_project_spark.sources.sinks import backfill_partitions, write_parquet

    path = str(tmp_path / "daily")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (3, "2024-01-03", 30.0)],
        "id long, day string, v double",
    )
    write_parquet(base, path, partition_by=["day"])

    fixed = spark.createDataFrame(
        [(2, "2024-01-02", 99.0)], "id long, day string, v double"
    )
    backfill_partitions(fixed, path, partition_by=["day"])

    # partition values read back type-inferred (date), so compare as str
    out = {(str(r.day), r.id): r.v for r in spark.read.parquet(path).collect()}
    assert out == {
        ("2024-01-01", 1): 10.0,  # untouched
        ("2024-01-02", 2): 99.0,  # repaired
        ("2024-01-03", 3): 30.0,  # untouched
    }


def test_zorder_layout_clusters_2d_box_queries(spark, tmp_path):
    """write_zordered must concentrate a 2-D box predicate's rows into
    fewer files than a 1-D (primary-key-sorted) layout — the whole
    point of the Morton interleave: min/max stats prune BOTH
    dimensions, not just the leading sort key."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.plans.linkage import _coord_spark
    from etl_project_spark.sources.sinks import write_zordered
    from tests.conftest import SF_ORACLE

    pts = read_table(spark, SF_ORACLE, "customer").select(
        "c_custkey",
        (F.floor(_coord_spark(F.col("c_custkey"), 1, 40.0)) + 40).alias("ca"),
        (F.floor(_coord_spark(F.col("c_custkey"), 9, 60.0)) + 60).alias("cb"),
    )
    n_files = 8
    z_path = str(tmp_path / "zordered")
    lin_path = str(tmp_path / "linear")
    write_zordered(pts, z_path, "ca", "cb", n_files=n_files)
    (
        pts.repartitionByRange(n_files, "c_custkey")
        .sortWithinPartitions("c_custkey")
        .write.parquet(lin_path)
    )

    def files_touched(path):
        df = spark.read.parquet(path).where(
            (F.col("ca").between(4, 7)) & (F.col("cb").between(4, 7))
        )
        return df.select(F.input_file_name().alias("f")).distinct().count()

    rows_z = spark.read.parquet(z_path).where(
        (F.col("ca").between(4, 7)) & (F.col("cb").between(4, 7))
    ).count()
    assert rows_z > 0, "box predicate matched nothing — vacuous layout test"
    z, lin = files_touched(z_path), files_touched(lin_path)
    # custkey order is uncorrelated with geography: the box's rows smear
    # over every linear file, but z-order packs them into a few tiles
    assert z < lin, f"z-order touched {z} files vs linear {lin}"


def test_html_fetcher_short_row_raises_with_location():
    """ADVICE r7: a malformed body row with fewer cells than the data
    width silently yielded a short tuple (surfacing pages later as an
    opaque reader arity error). The parse site must name the page and
    row instead."""
    from etl_project_spark.sources.paginated import HtmlTableFetcher

    html = (
        "<html><body><table id='table_id'><thead><tr>"
        "<th>c1</th><th>c2</th><th>c3</th><th>c4</th>"
        "<th>A</th><th>B</th></tr></thead><tbody>"
        "<tr><td>1</td><td>2</td></tr>"
        "<tr><td>only-one-cell</td></tr>"
        "</tbody></table>"
        "<div id='table_id_info'>Mostrando 1 a 2 de 2 registros</div>"
        "</body></html>"
    )

    import pytest

    class Fixed(HtmlTableFetcher):
        def _get_html(self, page):
            return html

    f = Fixed(base_url="http://unused.invalid")
    with pytest.raises(ValueError, match=r"page 0 row 1 has 1 cells"):
        f.fetch_page(0)

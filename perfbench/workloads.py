"""The benchmark's workloads: set-up, one load, and the correctness check.

A load is ``csv2db_spark.cli.run(Config(...), spark=...)``, the user's
path: existence probe, catalog schema, header sniff, read, reconcile,
cast, write, read-back count. Every ``Config`` field is set, so no user
preset is consulted, and user and password are both given, so the
credential chain never prompts.

``traced_load`` runs the same steps as ``cli.run`` one call at a time,
each inside a span, for the per-layer numbers. It must follow
``cli.run``; the traced run compares the two (``trace.layer_sum_s``
against the untraced ``load_p50_s``), so a drift shows there.

Derby runs embedded and in memory (``jdbc:derby:memory:``): no log
flush, no disk. Its sink numbers are the host's, not a server's.
"""

from __future__ import annotations

import os
from pathlib import Path

from perfbench import inputs

DERBY_POLICY = "embedded in-memory (jdbc:derby:memory), no durable flush"
USER, PASSWORD = "APP", "perfbench"

_MD5_SUM = "CAST(conv(substr(md5({}), 1, 15), 16, 10) AS DECIMAL(38,0))"

# One row of checksums over a typed table ``t``; the keys match
# inputs._typed_expected.
TYPED_CHECK_SQL = f"""
SELECT count(*) AS rows,
       sum(id) AS id_sum,
       sum(qty) AS qty_sum, count(*) - count(qty) AS qty_nulls,
       sum(id * qty) AS id_qty_sum,
       sum(CAST(price * 100 AS BIGINT)) AS price_cents_sum,
       count(*) - count(price) AS price_nulls,
       sum(CAST(score * 8 AS BIGINT)) AS score_eighths_sum,
       count(*) - count(score) AS score_nulls,
       sum(unix_date(d)) AS d_days_sum, count(*) - count(d) AS d_nulls,
       sum(unix_seconds(ts)) AS ts_secs_sum, count(*) - count(ts) AS ts_nulls,
       sum(CAST(flag AS INT)) AS flag_true, count(*) - count(flag) AS flag_nulls,
       sum({_MD5_SUM.format("concat(CAST(id AS STRING), ':', note)")}) AS id_note_md5_sum,
       count(*) - count(note) AS note_nulls,
       count(*) - count(region) AS region_nulls
FROM t
"""


def jdbc_sql(spark, url: str, sql: str) -> None:
    """Run one statement on a fresh JDBC connection."""
    props = spark._jvm.java.util.Properties()
    props.setProperty("user", USER)
    conn = spark._jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        st = conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()
    finally:
        conn.close()


def drop_derby(spark, name: str) -> None:
    """Drop an in-memory Derby database; Derby reports success as
    SQLState 08006."""
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:{name};drop=true"
        )
    except Py4JJavaError as exc:
        if "08006" not in str(exc.java_exception.getSQLState()):
            raise


def _compare(got: dict, expected: dict) -> list[str]:
    errors = []
    for key, want in expected.items():
        if key == "bytes":
            continue
        have = got.get(key)
        if str(have) != str(want):
            errors.append(f"{key}: loaded {have}, generated {want}")
    return errors


def _write_empty_typed_table(path: Path) -> None:
    """An empty parquet table with the typed target schema, written by
    pyarrow: a table that another tool made before the load. Parquet
    cannot say NOT NULL, so every column is nullable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("id", pa.int64()),
            ("qty", pa.int32()),
            ("price", pa.decimal128(12, 2)),
            ("score", pa.float64()),
            ("d", pa.date32()),
            ("ts", pa.timestamp("us", tz="UTC")),  # Spark TIMESTAMP, not NTZ
            ("flag", pa.bool_()),
            ("note", pa.string()),
            ("region", pa.string()),
        ]
    )
    path.mkdir(parents=True)
    pq.write_table(schema.empty_table(), path / "part-empty.parquet")


class Workload:
    """One workload. ``setup`` may run several times in a process; each
    call builds a fresh table that the following loads use."""

    name = ""
    table = ""
    sink_span = ""  # "sink.write_jdbc" or "sink.parquet_write"
    # share of the cores the session runs on, unless SPARK_GRAFT_CPUS is set
    core_share = 1.0

    def __init__(self, work: Path, seed: int):
        self.spark = None  # set once the session is up; inputs come first
        self.work = work
        self.inputs = work / "inputs"
        self.seed = seed
        self.generation = 0

    # -- per-workload hooks -------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def input(self, i: int) -> tuple[Path, dict]:
        """CSV file and expected checksums of load ``i``."""
        raise NotImplementedError

    def reset(self) -> None:
        """Untimed: bring the table to its pre-load state."""
        raise NotImplementedError

    def check(self, expected: dict) -> list[str]:
        """Untimed: compare the loaded table with the generator."""
        raise NotImplementedError

    def prepare_inputs(self) -> None:
        """Generate (or find cached) the input before timing starts."""
        self.input(0)

    def rows_per_load(self) -> int:
        return self.input(0)[1]["rows"]

    # -- shared -------------------------------------------------------------
    @property
    def url(self) -> str:
        return f"jdbc:derby:memory:{self.name}_{self.generation};create=true"

    def config(self, i: int):
        from csv2db_spark.cli import Config

        return Config(
            db_url=self.url,
            schema="",
            table=self.table,
            table_mode="as-is",
            file_name=str(self.input(i)[0]),
            has_header=True,
            delimiter=",",
            encoding="UTF-8",
            user=USER,
        )

    def load(self, i: int) -> None:
        from csv2db_spark import cli

        cli.run(self.config(i), spark=self.spark, password=PASSWORD)

    def traced_load(self, tr, i: int) -> None:
        """``cli.run`` step by step, one span per layer."""
        from csv2db_spark import cli
        from csv2db_spark.ingest import ingest_csv
        from csv2db_spark.progress import ProgressMeter

        conf = self.config(i)
        with tr.span("load"):
            with tr.span("cli.target_schema"):
                target = cli._target_schema(self.spark, conf, USER, PASSWORD)
            with tr.span("ingest.read_csv.sniff"):
                df = ingest_csv(
                    self.spark, conf.file_name, target, conf.has_header,
                    conf.delimiter, conf.encoding,
                )
            with tr.span(self.sink_span):
                with ProgressMeter(self.spark, os.path.getsize(conf.file_name)):
                    self.write(df, conf)
            with tr.span("cli.verify_count"):
                self.count(conf)

    def probes(self, tr, i: int) -> None:
        """Layer probes outside the load: the input parsed, then parsed
        and cast, into the noop sink (only the execution is timed; the
        sniff and plan build are the load's own span), and one existence
        probe."""
        from csv2db_spark import cli
        from csv2db_spark.ingest import ingest_csv, read_csv

        conf = self.config(i)
        parsed = read_csv(self.spark, conf.file_name, True, ",", "UTF-8")
        with tr.span("ingest.parse"):
            parsed.write.format("noop").mode("overwrite").save()
        target = cli._target_schema(self.spark, conf, USER, PASSWORD)
        cast = ingest_csv(self.spark, conf.file_name, target, True, ",", "UTF-8")
        with tr.span("ingest.parse_cast"):
            cast.write.format("noop").mode("overwrite").save()
        with tr.span("sink.table_probe"):
            self.probe(conf)

    # JDBC sink defaults; the parquet workload overrides these
    def write(self, df, conf) -> None:
        from csv2db_spark.sink import write_jdbc

        write_jdbc(df, conf.db_url, conf.qualified_table, conf.table_mode,
                   user=USER, password=PASSWORD)

    def count(self, conf) -> int:
        return self._jdbc_frame(dbtable=conf.qualified_table).count()

    def probe(self, conf) -> bool:
        from csv2db_spark.sink import _jdbc_table_exists

        return _jdbc_table_exists(self.spark, conf.db_url, conf.qualified_table, USER, PASSWORD)

    def _jdbc_frame(self, **opts):
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("user", USER)
            .option("password", PASSWORD)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()

    def _new_generation(self) -> None:
        if self.generation:
            drop_derby(self.spark, f"{self.name}_{self.generation}")
        self.generation += 1

    def write_counts(self) -> dict:
        """JDBC writer shape of one load: partitions, batch size and the
        executeBatch calls Spark makes (one per ``batchsize`` rows of each
        partition, plus a final short one)."""
        from pyspark.sql import functions as F

        from csv2db_spark import cli
        from csv2db_spark.ingest import ingest_csv
        from csv2db_spark.sink import default_batchsize

        conf = self.config(0)
        target = cli._target_schema(self.spark, conf, USER, PASSWORD)
        df = ingest_csv(self.spark, conf.file_name, target, True, ",", "UTF-8")
        batch = default_batchsize(len(df.columns))
        sizes = [
            r[1]
            for r in df.groupBy(F.spark_partition_id()).count().collect()
        ]
        return {
            "sink.write_jdbc.partitions": df.rdd.getNumPartitions(),
            "sink.write_jdbc.batchsize": batch,
            "sink.write_jdbc.batches": sum(-(-n // batch) for n in sizes),
        }


class LoadRefDerby(Workload):
    """The reference's own perf input into a pre-created Derby VARCHAR
    table. The table is created at set-up because the reference's main
    path reconciles with an existing table, and because creating it from
    the ``c-N`` header fails today (unquoted identifiers in the DDL)."""

    name = "load_ref_derby"
    sink_span = "sink.write_jdbc"
    table = "ref"
    ROWS = 30_000
    # Derby serialises the writers: on four cores (three writers) the load
    # is no faster than on two (two writers), and writers waiting on each
    # other stretch any slow spell of the host, so the load time spread
    # more between runs
    core_share = 0.5

    def input(self, i):
        return inputs.ref_csv(self.inputs, self.seed, self.ROWS)

    def setup(self):
        self._new_generation()
        cols = ", ".join(f'"c-{i}" VARCHAR(32)' for i in range(10))
        jdbc_sql(self.spark, self.url, f"CREATE TABLE {self.table} ({cols})")

    def reset(self):
        jdbc_sql(self.spark, self.url, f"TRUNCATE TABLE {self.table}")

    def check(self, expected):
        t = self._jdbc_frame(dbtable=self.table)
        joined = "concat_ws('\\u001f', " + ", ".join(f"`c-{i}`" for i in range(10)) + ")"
        t.createOrReplaceTempView("t")
        row = self.spark.sql(
            f"SELECT count(*) AS rows, sum({_MD5_SUM.format(joined)}) AS md5_sum FROM t"
        ).first()
        return _compare(row.asDict(), expected)


class LoadTypedParquet(Workload):
    """Typed CSV (header reordered, one extra column, one missing) into
    a ``parquet:`` table store: the JDBC sink is bypassed."""

    name = "load_typed_parquet"
    sink_span = "sink.parquet_write"
    table = "typed"
    ROWS = 600_000

    @property
    def url(self):
        return f"parquet:{self.work / 'store' / str(self.generation)}"

    def input(self, i):
        return inputs.typed_csv(self.inputs, self.seed, self.ROWS)

    def _store(self):
        from csv2db_spark.sink import ParquetTableStore

        return ParquetTableStore(self.spark, self.url.removeprefix("parquet:"))

    def setup(self):
        import shutil

        shutil.rmtree(self.work / "store", ignore_errors=True)
        self.generation += 1
        self.reset()

    def reset(self):
        store = self._store()
        store.drop(self.table)
        _write_empty_typed_table(store.root / self.table)

    def check(self, expected):
        self._store().read(self.table).createOrReplaceTempView("t")
        return _compare(self.spark.sql(TYPED_CHECK_SQL).first().asDict(), expected)

    def write(self, df, conf):
        self._store().write(df, conf.table, conf.table_mode)

    def count(self, conf):
        return self._store().read(conf.table).count()

    def probe(self, conf):
        return self._store().exists(conf.table)


WORKLOADS = {w.name: w for w in (LoadRefDerby, LoadTypedParquet)}

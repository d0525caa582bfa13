"""star_etl: the paper's own pipeline, extract -> conform -> star-join
enrich -> load.

Set-up writes a raw lake from ``generators.synthetic``: products and
customers as parquet (raw ``id``/``name`` columns, as the reference's
Postgres tables have them), sales events as a ``kafka_loopback`` topic
(``sinks.kafka.to_kafka_records`` + ``sources.kafka_loopback.produce``)
and inventory snapshots as a CSV tree (``sinks.files.write_inventory_tree``).
One operation reads the lake, runs ``pipeline.transform_star_schema`` and
``transforms.conform`` and loads the four tables with
``sinks.files.write_lakehouse_table``. No dedup operator runs.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from devcontainers_etl_node_spark import schemas
from devcontainers_etl_node_spark.generators import synthetic as gen
from devcontainers_etl_node_spark.pipeline import transform_star_schema
from devcontainers_etl_node_spark.sinks import files as file_sinks
from devcontainers_etl_node_spark.sinks.kafka import to_kafka_records
from devcontainers_etl_node_spark.sources import files as file_sources
from devcontainers_etl_node_spark.sources import kafka_loopback
from devcontainers_etl_node_spark.sources.kafka import parse_event_stream
from devcontainers_etl_node_spark.transforms.conform import conform

from perfbench.common import OpResult, dir_size, require

SIZES = {
    "full": {"events": 100_000, "products": 5_000, "customers": 20_000, "warehouses": 3, "days": 28},
    "tiny": {"events": 2_000, "products": 100, "customers": 300, "warehouses": 2, "days": 7},
}

# table -> (conform target, timestamp column for the monthly partition,
# clustering sort key)
TABLES = {
    "dim_products": (schemas.DIM_PRODUCTS, "created_at", ["product_id"]),
    "dim_customers": (schemas.DIM_CUSTOMERS, "created_at", ["customer_id"]),
    "fact_sales": (schemas.FACT_SALES, "ts", ["ts", "event_id"]),
    "fact_inventory": (schemas.FACT_INVENTORY, "date", ["date", "product_id"]),
}

EPOCH = "2024-01-01 00:00:00"
SPAN_SECONDS = 60 * 86_400


class StarEtl:
    name = "star_etl"
    item = "events"
    # a batch job: each run times one pass in a fresh JVM, as a scheduled
    # spark-submit pays it
    cold = True

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.n = SIZES[size]
        self.lake = os.path.join(work, "lake")
        self.ref = os.path.join(work, "ref")
        self.out = os.path.join(work, "lakehouse")
        self.topic = os.path.join(self.lake, "sales_events")
        self.last_out: str | None = None
        self.records_read = 0
        spark.dataSource.register(kafka_loopback.KafkaLoopbackDataSource)

    def generate(self) -> int:
        """Write the raw lake; returns its size in bytes."""
        spark, seed, n = self.spark, self.seed, self.n
        created = F.lit(EPOCH).cast("timestamp")
        products = gen.gen_products(spark, n["products"], seed).withColumn("created_at", created)
        customers = gen.gen_customers(spark, n["customers"], seed).withColumn("created_at", created)
        products.withColumnRenamed("product_id", "id").withColumnRenamed(
            "product_name", "name"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(self.lake, "products"))
        customers.withColumnRenamed("customer_id", "id").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.lake, "customers"))

        # gen_sales_events stamps uuid() ids and now() times; replace both
        # with seed-derived values so a seed always gives the same events.
        # Whole seconds: the Kafka JSON carries milliseconds.
        events = gen.gen_sales_events(spark, n["events"], products, customers, seed)
        events = events.withColumn(
            "event_id", F.format_string("ev-%d-%d", F.lit(seed), F.monotonically_increasing_id())
        ).withColumn(
            "ts",
            F.timestamp_seconds(
                F.unix_timestamp(F.lit(EPOCH))
                + F.pmod(F.xxhash64("event_id", F.lit(seed)), F.lit(SPAN_SECONDS))
            ),
        ).select("event_id", "ts", "customer_id", "product_id", "qty", "unit_price")
        # the parquet copy is both the producer's input and the check's
        # reference, so the two can never disagree
        events.write.mode("overwrite").parquet(os.path.join(self.ref, "events"))
        kafka_loopback.produce(
            to_kafka_records(spark.read.parquet(os.path.join(self.ref, "events"))), self.topic
        )

        inventory = gen.gen_inventory_snapshots(
            spark, products, warehouses=n["warehouses"], days=n["days"], seed=seed
        )
        file_sinks.write_inventory_tree(inventory, os.path.join(self.lake, "inventory"))
        return dir_size(self.lake)[0]

    def op(self, i: int, tr) -> OpResult:
        spark = self.spark
        with tr.span("sources.kafka_loopback.read"):
            raw = spark.read.format("kafka_loopback").option("path", self.topic).load()
            raw, records = tr.materialize(raw)
            if records is not None:
                self.records_read = records
            events, _ = tr.materialize(parse_event_stream(raw))
        with tr.span("sources.files.inventory_read"):
            inventory = file_sources.read_inventory_csv_tree(spark, os.path.join(self.lake, "inventory"))
            inventory, _ = tr.materialize(inventory)
        products = spark.read.parquet(os.path.join(self.lake, "products"))
        customers = spark.read.parquet(os.path.join(self.lake, "customers"))
        with tr.span("transforms.conform_enrich"):
            tables = transform_star_schema(products, customers, events, inventory)
            conformed = {}
            for name, (target, _, _) in TABLES.items():
                conformed[name], _ = tr.materialize(conform(tables[name], target))
        out = os.path.join(self.out, f"run_{i}")
        with tr.span("sinks.files.write"):
            for name, (_, ts_col, sort_cols) in TABLES.items():
                file_sinks.write_lakehouse_table(conformed[name], os.path.join(out, name), ts_col, sort_cols)
        self.last_out = out
        return OpResult(items=self.n["events"])

    def footprint(self) -> int:
        return dir_size(self.out)[0]

    def check(self) -> dict:
        """DuckDB recomputes fact_sales from the parquet copies of the
        generated events and dims; row count and an order-independent
        hash must match the loaded table."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{self.ref}/events/*.parquet')")
            con.execute(f"CREATE VIEW p AS SELECT * FROM read_parquet('{self.lake}/products/*.parquet')")
            con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet('{self.lake}/customers/*.parquet')")
            con.execute(
                "CREATE VIEW got AS SELECT * FROM read_parquet("
                f"'{self.last_out}/fact_sales/*/*.parquet', hive_partitioning = true)"
            )
            expected = """
                SELECT ev.event_id, ev.ts, ev.customer_id, ev.product_id,
                       CAST(ev.qty AS INTEGER) AS qty,
                       CAST(ev.unit_price AS DECIMAL(12,2)) AS unit_price,
                       c.external_id, c.name AS customer_name, c.segment,
                       p.sku, p.name AS product_name, p.category
                FROM ev LEFT JOIN c ON ev.customer_id = c.id
                        LEFT JOIN p ON ev.product_id = p.id"""
            cols = [
                "event_id", "epoch_us(ts)", "customer_id", "product_id", "qty", "unit_price",
                "external_id", "customer_name", "segment", "sku", "product_name", "category",
            ]
            row = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
            digest = f"SELECT count(*), sum(hash({row})::HUGEINT) FROM "
            want = con.execute(digest + f"({expected})").fetchone()
            got = con.execute(digest + "got").fetchone()
            counts = {
                name: con.execute(
                    f"SELECT count(*) FROM read_parquet('{self.last_out}/{name}/*/*.parquet')"
                ).fetchone()[0]
                for name in TABLES
            }
        finally:
            con.close()
        require(want[0] == self.n["events"], f"reference has {want[0]} events, generated {self.n['events']}")
        require(got[0] == want[0], f"fact_sales rows {got[0]} != reference {want[0]}")
        require(got[1] == want[1], "fact_sales content hash differs from the DuckDB recomputation")
        require(counts["dim_products"] == self.n["products"], f"dim_products rows {counts['dim_products']}")
        require(counts["dim_customers"] == self.n["customers"], f"dim_customers rows {counts['dim_customers']}")
        return {"fact_sales_rows": got[0], "fact_sales_hash_match": True, "table_rows": counts}

    def layer_metrics(self, stats) -> dict:
        written, nfiles = dir_size(self.last_out)
        return {
            "sources.kafka_loopback.read_s": stats.per_op("sources.kafka_loopback.read"),
            "sources.kafka_loopback.records": self.records_read,
            "sources.files.inventory_read_s": stats.per_op("sources.files.inventory_read"),
            "transforms.conform_enrich_s": stats.per_op("transforms.conform_enrich"),
            "sinks.files.write_s": stats.per_op("sinks.files.write"),
            "sinks.files.bytes": written,
            "sinks.files.files": nfiles,
        }

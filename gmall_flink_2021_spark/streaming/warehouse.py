"""The composed warehouse: every reference job wired as one streaming
topology over file-backed ODS directories (swap the readers for
sources/kafka.py builders in production — the operator layer is
transport-agnostic).

Topology (mirrors SURVEY.md §0's layer diagram):

  ods_log/   ──text──► parse → dirty/│start│page│display   (BaseLogApp)
  ods_db/    ──jsonl──► normalize → route via table_process (BaseDBApp)
      ├─ dims → merge-by-pk parquet tables                  (DimSink)
      └─ facts → typed streams
  page ──► UV dedup / bounce detect (stateful)              (UniqueVisit/UserJump)
  order⋈detail ──► order_wide  ──⋈payment──► payment_wide   (OrderWide/PaymentWide)
  all ──► visitor/product/keyword stats → parquet           (DWS apps)
  stats tables ──► gmv / trademark top-N readback           (publisher)

Each writer is an idempotent foreachBatch parquet append
(sinks.write_idempotent), checkpointed per job — the exactly-once
analog of the reference's transactional producers. For test
determinism the whole topology runs with availableNow triggers.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dwd, gmall_dwm
from ..schemas import TABLE_PROCESS_SCHEMA
from ..sources import cdc as cdc_src
from . import sinks, stateful

class Warehouse:
    """Paths + SparkSession for one warehouse instance.

    ``approx_distinct`` (default False — bit-exact reference parity:
    the Set-accumulator counts the reference's bean/ProductStats.java
    computes, so existing callers get reference-exact order_ct /
    paid_order_ct / refund_order_ct without opting into anything).
    Pass True — the recommended 100 TB deployment posture for
    high-cardinality keys — to compute the per-window distinct order
    counts with approx_count_distinct (HyperLogLog++, constant ~kB
    state per group) instead of exact collect_set sets whose
    streaming state grows with the true per-group cardinality; the
    emitted counts are then ESTIMATES, and the error band is gated by
    tests/test_warehouse.py against the exact batch job. Exact is
    fine at the reference's per-sku 10 s grain; it is the hot-key
    state growth at corpus scale that motivates the approx flag."""

    def __init__(self, spark: SparkSession, workdir: str,
                 config_rows: list[dict], approx_distinct: bool = False):
        self.spark = spark
        self.work = workdir
        self.approx_distinct = approx_distinct
        for d in ("ods_log", "ods_db", "ods_config", "dwd", "dwd_facts",
                  "dim", "dws", "ck"):
            os.makedirs(os.path.join(workdir, d), exist_ok=True)
        self._config_seq = len(os.listdir(self._p("ods_config")))
        if config_rows:
            self.add_config_rows(config_rows)

    def _p(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --------------------------------------------------------- config feed
    def add_config_rows(self, rows: list[dict]) -> None:
        """The table_process config is itself a change stream (the
        reference broadcasts the MySQL-CDC of that table into keyed
        broadcast state — BaseDBApp.java:78-88). Appending a changelog
        file here is the transport analog: rows take effect from the
        NEXT micro-batch, exactly like a broadcast-state update racing
        the data stream."""
        import json

        path = self._p("ods_config", f"config-{self._config_seq:06d}.jsonl")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps({**r, "_seq": self._config_seq}) + "\n")
        self._config_seq += 1

    @property
    def config(self) -> DataFrame:
        """Latest config state: per (source_table, operate_type) key,
        the highest-_seq row wins (the ValueState upsert analog)."""
        from pyspark.sql import Window
        from pyspark.sql.types import LongType, StructField, StructType

        # NB: StructType.add mutates in place — build a fresh copy
        schema = StructType(list(TABLE_PROCESS_SCHEMA.fields)
                            + [StructField("_seq", LongType())])
        raw = self.spark.read.schema(schema).json(self._p("ods_config"))
        w = Window.partitionBy("source_table", "operate_type") \
                  .orderBy(F.desc("_seq"))
        return (raw.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn", "_seq"))

    # ------------------------------------------------------------ ODS→DWD
    def run_base_db(self) -> None:
        """BaseDBApp: changelog → route → dim merge + fact topics.

        Routing happens INSIDE foreachBatch against the config state
        as of that batch, so a table_process row arriving mid-stream
        re-routes every later batch — the reference's
        BroadcastProcessFunction semantics (BaseDBApp.java:78-88)
        without restarting the query."""
        stream = cdc_src.read_changelog_stream(self.spark,
                                               self._p("ods_db"))
        stream = dwd.filter_deletes(stream)

        def sink(cdc_batch: DataFrame, bid: int) -> None:
            batch = dwd.route_cdc(cdc_batch, self.config).persist()
            facts = batch.filter(F.col("sink_type") == "kafka")
            sinks.write_routed(facts, bid, self._p("dwd_facts"))
            # K4, config-driven end-to-end: ONE bounded collect lists
            # every (table, column list, pk) spec in the micro-batch,
            # then each spec's rows merge under its configured pk.
            # Table set, column list and pk all travel on the routed
            # rows — i.e. straight from the table_process config — so a
            # config row arriving mid-stream materializes a brand-new
            # dim table on its first batch, mirroring the reference's
            # runtime DDL (TableProcessFunction.java:62-121). One table
            # can carry several specs (e.g. different sink_columns per
            # operate_type): each spec's rows are projected with ITS
            # column list, as the reference does per record
            # (TableProcessFunction.java:155-172). A null/empty
            # sink_columns keeps the record unfiltered (ibid:62-68):
            # columns come from the JSON payload.
            dims = batch.filter(F.col("sink_type") == "hbase")
            specs = sorted(
                dims.select("sink_table", "sink_columns", "sink_pk")
                .distinct().collect(),
                key=lambda s: tuple(v or "" for v in s))
            for spec in specs:
                table = spec["sink_table"]
                if not table:
                    warnings.warn(
                        "skipping dim spec with no sink_table",
                        RuntimeWarning, stacklevel=2)
                    continue
                srows = dims.filter(
                    (F.col("sink_table") == table)
                    & F.col("sink_columns").eqNullSafe(spec["sink_columns"])
                    & F.col("sink_pk").eqNullSafe(spec["sink_pk"]))
                pk = spec["sink_pk"] or "id"
                if spec["sink_columns"]:
                    cols = [c.strip()
                            for c in spec["sink_columns"].split(",")]
                    # defensive (the reference tolerates malformed
                    # table_process rows): a config whose column list
                    # omits its own pk must not fail the whole
                    # micro-batch with an AnalysisException — the merge
                    # needs the pk projected, so append it
                    if pk not in cols:
                        warnings.warn(
                            f"dim spec for {table}: sink_pk '{pk}' "
                            f"missing from sink_columns; appending it",
                            RuntimeWarning, stacklevel=2)
                        cols.append(pk)
                else:
                    # cold fallback for a spec with NO column list:
                    # derive column NAMES from the JSON payloads with a
                    # DataFrame-only key scan (json_object_keys +
                    # explode + distinct) — no .rdd hop, no driver-side
                    # schema inference; types are irrelevant here since
                    # the projection below extracts strings via
                    # get_json_object either way
                    cols = sorted(
                        r.k for r in srows.select(
                            F.explode(F.json_object_keys("data"))
                            .alias("k")).distinct().collect())
                    if pk not in cols:
                        # payload genuinely lacks the pk: skip this
                        # spec (merging on an all-null key would
                        # collapse the table) and keep the batch
                        warnings.warn(
                            f"skipping dim spec for {table}: sink_pk "
                            f"'{pk}' absent from the JSON payload",
                            RuntimeWarning, stacklevel=2)
                        continue
                projected = srows.select(*[
                    F.get_json_object(F.col("data"), f"$.{c}").alias(c)
                    for c in cols])
                sinks.upsert_dim(
                    projected.withColumn(pk, F.col(pk).cast("long")),
                    self._p("dim", table), pk=pk)
            batch.unpersist()

        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", self._p("ck", "base_db"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run_base_log(self) -> None:
        """BaseLogApp: raw log → dirty + start/page/display topics."""
        raw = self.spark.readStream.format("text").load(self._p("ods_log"))
        parsed = dwd.parse_log(raw)

        def sink(batch: DataFrame, bid: int) -> None:
            batch = batch.persist()
            sinks.write_idempotent(
                dwd.dirty_records(batch), bid, self._p("dwd", "dirty"))
            streams = dwd.split_log(batch)
            for name in ("start", "page"):
                sinks.write_idempotent(streams[name], bid,
                                       self._p("dwd", f"log_{name}"))
            sinks.write_idempotent(
                streams["display"].withColumn(
                    "common", F.col("common").cast("string")),
                bid, self._p("dwd", "log_display"))
            batch.unpersist()

        q = (parsed.writeStream.foreachBatch(sink)
             .option("checkpointLocation", self._p("ck", "base_log"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # ------------------------------------------------------------ helpers
    def dim(self, name: str) -> DataFrame:
        return sinks.read_dim(self.spark, self._p("dim", name))

    def dims(self) -> dict[str, DataFrame]:
        """Every dim table materialized so far, discovered from the dim
        store itself (the table set is config-driven, not a constant)."""
        base = self._p("dim")
        names = sorted(d for d in os.listdir(base)
                       if d.startswith("dim_")
                       and not d.endswith("._staging"))
        return {n.removeprefix("dim_"): self.dim(n) for n in names}

    def fact(self, sink_table: str):
        df = (self.spark.read
              .option("basePath", self._p("dwd_facts"))
              .parquet(self._p("dwd_facts")))
        return df.filter(F.col("sink_table") == sink_table)

    def typed_fact(self, table: str) -> DataFrame:
        rows = self.fact(f"dwd_{table}")
        return (rows.select(F.from_json(
            "data", gmall_dwm.FACT_SCHEMAS[table]).alias("d"))
            .select("d.*"))

    def page_stream(self) -> DataFrame:
        schema = self.spark.read.parquet(
            self._p("dwd", "log_page")).schema
        return (self.spark.readStream.schema(schema)
                .option("basePath", self._p("dwd", "log_page"))
                .parquet(self._p("dwd", "log_page")))

    # ------------------------------------------------------------ DWM
    def run_unique_visitors(self) -> None:
        """UniqueVisitApp: stateful daily-UV dedup → dwm_unique_visit."""
        proj = stateful.page_events_projection(self.page_stream()) \
            .withWatermark("et", "1 second")
        uv = stateful.dedup_uv(proj)
        q = (uv.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dwd", "dwm_unique_visit")))
             .option("checkpointLocation", self._p("ck", "uv"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run_user_jumps(self) -> None:
        """UserJumpDetailApp: stateful bounce detect → dwm_user_jump."""
        proj = stateful.page_events_projection(self.page_stream()) \
            .withWatermark("et", "1 second")
        jumps = stateful.detect_jumps(proj)
        q = (jumps.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dwd", "dwm_user_jump")))
             .option("checkpointLocation", self._p("ck", "uj"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def typed_fact_stream(self, table: str) -> DataFrame:
        """The fact topic as a stream: reads the routed parquet dir
        directly (partition pruning on sink_table), so the job's
        checkpoint tracks the real topic files — re-runs without new
        ODS input process nothing (exactly-once)."""
        schema = self.spark.read.option(
            "basePath", self._p("dwd_facts")).parquet(
            self._p("dwd_facts")).schema
        rows = (self.spark.readStream.schema(schema)
                .option("basePath", self._p("dwd_facts"))
                .parquet(self._p("dwd_facts"))
                .filter(F.col("sink_table") == f"dwd_{table}"))
        return (rows.select(F.from_json(
            "data", gmall_dwm.FACT_SCHEMAS[table]).alias("d"))
            .select("d.*"))

    def run_order_wide(self) -> None:
        """OrderWideApp: streaming interval join + dim enrichment."""
        oi_s = self.typed_fact_stream("order_info")
        od_s = self.typed_fact_stream("order_detail")
        wide = gmall_dwm.order_wide_join(oi_s, od_s, streaming=True)

        dims = self.dims()

        def sink(batch: DataFrame, bid: int) -> None:
            enriched = gmall_dwm.enrich_order_wide(batch, dims)
            sinks.write_idempotent(enriched, bid,
                                   self._p("dwd", "dwm_order_wide"))

        q = (wide.writeStream.foreachBatch(sink)
             .option("checkpointLocation", self._p("ck", "order_wide"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run_payment_wide(self) -> None:
        """PaymentWideApp: payment topic ⋈ the materialized order-wide
        stream (topic-to-topic, as the reference chains jobs through
        Kafka), watermarked stream-stream join, −0..+15 min bounds."""
        pay = self.typed_fact_stream("payment_info")
        ow_path = self._p("dwd", "dwm_order_wide")
        ow = self._parquet_stream(ow_path).drop("batch_id")
        wide = gmall_dwm.payment_wide_join(pay, ow, streaming=True)
        q = (wide.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dwd", "dwm_payment_wide")))
             .option("checkpointLocation", self._p("ck", "payment_wide"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run_product_stats_streaming(self) -> None:
        """ProductStatsApp as a true streaming job: the 8 source
        streams unioned behind one watermark, set-based distinct order
        counts, append-mode window reduce → dws table."""
        from ..operators.gmall_dws import product_stats

        page = self.page_stream()
        display = self._parquet_stream(self._p("dwd", "log_display")) \
            .drop("batch_id")
        stats = product_stats(
            page=page, display=display,
            favor=self.typed_fact_stream("favor_info"),
            cart=self.typed_fact_stream("cart_info"),
            order_wide=self._parquet_stream(
                self._p("dwd", "dwm_order_wide")).drop("batch_id"),
            payment_wide=self._parquet_stream(
                self._p("dwd", "dwm_payment_wide")).drop("batch_id"),
            refund=self.typed_fact_stream("order_refund_info"),
            comment=self.typed_fact_stream("comment_info"),
            streaming_watermark="1 second",
            approx_distinct=self.approx_distinct)
        q = (stats.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dws", "product_stats_stream")))
             .option("checkpointLocation", self._p("ck", "ps_stream"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # ------------------------------------------------------------ DWS
    def run_visitor_stats(self) -> None:
        """VisitorStatsApp over the split page topic + DWM streams."""
        from ..operators.gmall_dws import visitor_stats

        page = self.spark.read.parquet(self._p("dwd", "log_page"))
        uv = self.spark.read.parquet(self._p("dwd", "dwm_unique_visit"))
        uj = (self.spark.read.parquet(self._p("dwd", "dwm_user_jump"))
              .withColumnRenamed("ts", "ts"))
        stats = visitor_stats(page, uv.select("mid", "ts"),
                              uj.select("mid", "ts"))
        stats.write.mode("overwrite").parquet(
            self._p("dws", "visitor_stats"))

    def _parquet_stream(self, path: str) -> DataFrame:
        schema = self.spark.read.parquet(path).schema
        return (self.spark.readStream.schema(schema)
                .option("basePath", path).parquet(path))

    def run_visitor_stats_streaming(self) -> None:
        """VisitorStatsApp as a true streaming job: 3-stream union
        behind one watermark (O7 — Spark tracks the min watermark
        across inputs), additive window reduce in append mode. Only
        watermark-closed windows are emitted; the batch
        run_visitor_stats covers the tail."""
        from ..operators.gmall_dws import (
            mid_dimensions, visitor_stats_agg, visitor_stats_union)

        page_static = self.spark.read.parquet(self._p("dwd", "log_page"))
        mid_dims = mid_dimensions(page_static)
        unioned = visitor_stats_union(
            self.page_stream(),
            self._parquet_stream(self._p("dwd", "dwm_unique_visit"))
                .select("mid", "ts"),
            self._parquet_stream(self._p("dwd", "dwm_user_jump"))
                .select("mid", "ts"),
            mid_dims)
        stats = visitor_stats_agg(
            unioned.withColumn("et", F.col("et").cast("timestamp"))
                   .withWatermark("et", "1 second"))
        q = (stats.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dws", "visitor_stats_stream")))
             .option("checkpointLocation", self._p("ck", "vs_stream"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run_product_stats(self) -> None:
        """ProductStatsApp: 7-source union windows → dws table."""
        from ..operators.gmall_dws import enrich_product_stats, product_stats

        page = self.spark.read.parquet(self._p("dwd", "log_page"))
        display_raw = self.spark.read.parquet(
            self._p("dwd", "log_display"))
        order_wide = self.spark.read.parquet(
            self._p("dwd", "dwm_order_wide"))
        pay = self.typed_fact("payment_info")
        pw = gmall_dwm.payment_wide_join(pay, order_wide)
        stats = product_stats(
            page=page, display=display_raw,
            favor=self.typed_fact("favor_info"),
            cart=self.typed_fact("cart_info"),
            order_wide=order_wide, payment_wide=pw,
            refund=self.typed_fact("order_refund_info"),
            comment=self.typed_fact("comment_info"),
            approx_distinct=self.approx_distinct)
        dims = self.dims()
        enrich_product_stats(stats, dims).write.mode("overwrite") \
            .parquet(self._p("dws", "product_stats"))

    def run_keyword_stats_streaming(self) -> None:
        """KeywordStatsApp as a streaming job: good_list search phrases
        tokenized and window-counted behind a watermark (the U1
        tokenizer explode feeding an A5 tumble window)."""
        from ..functions.text import tokens
        from ..functions.timeutil import window_stamps

        page = (self.page_stream()
                .withColumn("et", F.timestamp_millis("ts"))
                .withWatermark("et", "1 second"))

        searches = page.filter(
            (F.col("page.page_id") == "good_list")
            & (F.col("page.item_type") == "keyword")
            & F.col("page.item").isNotNull())
        words = searches.select(
            "et", F.explode(tokens(F.lower(F.col("page.item"))))
            .alias("keyword"))
        stats = (words.groupBy(F.window("et", "10 seconds"), "keyword")
                 .agg(F.count(F.lit(1)).alias("ct"))
                 .select(*window_stamps(), "keyword", "ct"))
        q = (stats.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dws", "keyword_stats_stream")))
             .option("checkpointLocation", self._p("ck", "kw_stream"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run_province_stats_streaming(self) -> None:
        """ProvinceStatsSqlApp as a streaming job over the enriched
        order-wide topic; the exact distinct order count uses
        collect_set (streaming-legal, A4 semantics)."""
        ow = (self._parquet_stream(self._p("dwd", "dwm_order_wide"))
              .drop("batch_id")
              .withWatermark("order_et", "1 second"))
        stats = (ow.groupBy(
                    F.window("order_et", "10 seconds"),
                    "province_id", "province_name", "province_area_code",
                    "province_iso_code", "province_3166_2_code")
                 .agg(F.sum(F.col("split_total_amount")
                            .cast("decimal(18,2)"))
                      .cast("decimal(18,2)").alias("order_amount"),
                      F.size(F.collect_set("order_id")).cast("long")
                      .alias("order_count"))
                 .select(F.col("window.start").alias("stt"),
                         F.col("window.end").alias("edt"),
                         "province_id", "province_name",
                         "province_area_code", "province_iso_code",
                         "province_3166_2_code", "order_amount",
                         "order_count"))
        q = (stats.writeStream.foreachBatch(
                lambda b, i: sinks.write_idempotent(
                    b, i, self._p("dws", "province_stats_stream")))
             .option("checkpointLocation", self._p("ck", "prov_stream"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # ------------------------------------------------------------ serving
    def gmv(self, date: str):
        from ..operators.gmall_dws import gmv

        return gmv(self.spark.read.parquet(
            self._p("dws", "product_stats")), date)

    def trademark_top(self, date: str, limit: int = 5):
        from ..operators.gmall_dws import trademark_top

        return trademark_top(self.spark.read.parquet(
            self._p("dws", "product_stats")), date, limit)

    # ------------------------------------------------------------ one shot
    def run_all(self) -> None:
        self.run_base_db()
        self.run_base_log()
        self.run_unique_visitors()
        self.run_user_jumps()
        self.run_order_wide()
        self.run_visitor_stats()
        self.run_product_stats()

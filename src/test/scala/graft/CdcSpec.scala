package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.sources.CdcSchemas

/** CDC operator unit tests on the reference's wire-format fixtures
  * (FIXTURES.md §A.2) — envelope unwrap, soft-delete rewrite, null padding,
  * corrupt-record tolerance, unified union, latest-state compaction.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  // Debezium envelopes for one customer key: insert → update → delete
  // (mirrors reference test-generator DML flow, generate_test_data.py).
  private val envelopes = Seq(
    """{"before":null,"after":{"id":7,"name":"Jane Doe","email":"j@x.com","address":"12 Elm St","created_at":"2023-08-08T12:00:00","updated_at":"2023-08-08T12:00:00"},"source":{"table":"customer","lsn":"0/17489B0","ts_ms":1691500000000},"op":"c","ts_ms":1691500000100}""",
    """{"before":{"id":7,"name":"Jane Doe","email":"j@x.com","address":"12 Elm St","created_at":"2023-08-08T12:00:00","updated_at":"2023-08-08T12:00:00"},"after":{"id":7,"name":"Jane Roe","email":"j@x.com","address":"12 Elm St","created_at":"2023-08-08T12:00:00","updated_at":"2023-08-08T12:01:00"},"source":{"table":"customer","lsn":"0/1748C28","ts_ms":1691500060000},"op":"u","ts_ms":1691500060100}""",
    """{"before":{"id":8,"name":"Ann","email":"a@x.com","address":null,"created_at":"2023-08-08T12:00:00","updated_at":"2023-08-08T12:00:00"},"after":null,"source":{"table":"customer","lsn":"0/1749000","ts_ms":1691500120000},"op":"d","ts_ms":1691500120100}""",
  )

  private lazy val unwrapped = {
    val schema = CdcSchemas.envelope(CdcSchemas.customer)
    val env = spark.read.schema(schema).json(envelopes.toDS)
    Cdc.softDeleteRewrite(Cdc.unwrap(env))
  }

  test("unwrap flattens after-image and enriches op/table_name/lsn") {
    val rows = unwrapped.orderBy($"lsn").collect()
    assert(rows.length === 3)
    val ins = rows(0)
    assert(ins.getAs[Long]("id") === 7L)
    assert(ins.getAs[String]("name") === "Jane Doe")
    assert(ins.getAs[String]("op") === "c")
    assert(ins.getAs[String]("table_name") === "customer")
    val upd = rows(1)
    assert(upd.getAs[String]("name") === "Jane Roe")
  }

  test("delete rewrite keeps the before-image and marks __deleted") {
    val del = unwrapped.filter($"op" === "d").collect().head
    assert(del.getAs[String]("__deleted") === "true")
    assert(del.getAs[Long]("id") === 8L) // last row image survives
    assert(del.getAs[String]("name") === "Ann")
    assert(unwrapped.filter($"op" =!= "d")
      .filter($"__deleted" =!= "false").count() === 0)
  }

  test("unify null-pads to the declared 22-col unified schema") {
    val uni = Cdc.unify(Seq(unwrapped))
    // name+type must match exactly; nullability may only be stronger
    assert(uni.schema.map(f => (f.name, f.dataType)) ===
      CdcSchemas.unified.map(f => (f.name, f.dataType)))
    val r = uni.filter($"op" === "c").collect().head
    // customer event → every product/order column is null
    Seq("price", "stock", "category", "status", "order_id", "quantity")
      .foreach(c => assert(r.isNullAt(r.fieldIndex(c)), s"$c not null"))
  }

  test("latest-state compaction keeps max-lsn row and drops deleted keys") {
    val state = Cdc.latestState(Cdc.unify(Seq(unwrapped)),
      keys = Seq("table_name", "id"), order = Seq(Cdc.lsnOrd($"lsn")))
    val rows = state.collect()
    assert(rows.length === 1) // id=8 deleted; id=7 latest is the update
    assert(rows.head.getAs[Long]("id") === 7L)
    assert(rows.head.getAs[String]("name") === "Jane Roe")
  }

  test("lsnOrd orders numerically across the hi/lo boundary") {
    val df = Seq("0/FFFFFFFF", "1/0", "0/10", "A/5").toDF("lsn")
      .withColumn("o", Cdc.lsnOrd($"lsn"))
    val got = df.orderBy($"o").select($"lsn").as[String].collect().toSeq
    assert(got === Seq("0/10", "0/FFFFFFFF", "1/0", "A/5"))
  }

  test("PERMISSIVE ingest tolerates malformed lines and counts them") {
    val dir = Files.createTempDirectory("graft-cdc").toFile
    val f = new java.io.File(dir, "events.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id":1,"name":"ok","op":"c","table_name":"customer","lsn":"0/10","__deleted":"false"}""")
    w.println("""{not json at all""")
    w.close()
    val df = Cdc.readJsonEvents(spark, CdcSchemas.unified, f.getAbsolutePath)
    assert(df.count() === 2)
    assert(df.filter(col("_corrupt").isNotNull).count() === 1)
    assert(df.filter(col("_corrupt").isNull).count() === 1)
  }

  test("a truncated envelope line leaves no NULL-key row in latest state") {
    import graft.operators.CdcEnvelope
    val dir = Files.createTempDirectory("graft-cdc-malformed")
    Seq("customers", "products", "orders", "order_items").foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"${CdcEnvelope.FixtureDir}/$t.jsonl"),
        dir.resolve(s"$t.jsonl"))
    }
    Files.write(dir.resolve("customers.jsonl"),
      "{\"before\":null,\"after\":{\"id\":99,\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    // the corrupt line is still counted at decode…
    val decoded = Cdc.readJsonEvents(spark,
      CdcSchemas.envelope(CdcSchemas.customer), s"$dir/customers.jsonl")
    assert(decoded.filter(col("_corrupt").isNotNull).count() === 1)
    // …but never reaches state as a phantom key
    def state(d: String) = Cdc.latestState(CdcEnvelope.unified(spark, d),
      Seq("table_name", "id"), Seq(Cdc.lsnOrd($"lsn")))
    val got = state(dir.toString)
    assert(got.filter($"table_name".isNull || $"id".isNull ||
      $"op".isNull || $"lsn".isNull).count() === 0)
    assert(got.collect().toSet === state(CdcEnvelope.FixtureDir).collect().toSet)
  }

  test("unknownFieldStats surfaces fields the declared schema would drop") {
    val raw = Seq(
      """{"id":1,"name":"a","op":"c","new_col":"x","lsn":"0/1"}""",
      """{"id":2,"name":"b","op":"c","new_col":"y","other":"z","lsn":"0/2"}""",
      null
    ).toDF("value")
    val drift = Cdc.unknownFieldStats(raw, CdcSchemas.unified)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(drift === Map("new_col" -> 2L, "other" -> 1L))
  }

  test("time-partition derivation matches the sink layout") {
    val df = Seq("2024-03-05 17:45:00").toDF("s")
      .withColumn("ts", to_timestamp($"s"))
    val p = Cdc.withTimePartitions(df, $"ts").collect().head
    assert(p.getAs[Int]("year") === 2024)
    assert(p.getAs[Int]("month") === 3)
    assert(p.getAs[Int]("day") === 5)
    assert(p.getAs[Int]("hour") === 17)
  }

  test("partitioned write round-trips with partition pruning") {
    val out = Files.createTempDirectory("graft-sink").toString
    val events = graft.sources.Tables.events(spark, sf)
    Cdc.writeTimePartitioned(
      Cdc.withTimePartitions(events, $"ts"), out)
    val back = spark.read.parquet(out)
    assert(back.count() === events.count())
    // pruned read touches only matching partition dirs
    val pruned = back.filter($"year" === 2024 && $"month" === 1 &&
      $"day" === 1 && $"hour" === 0)
    assert(pruned.count() ===
      events.filter(year($"ts") === 2024 && month($"ts") === 1 &&
        dayofmonth($"ts") === 1 && hour($"ts") === 0).count())
  }
}

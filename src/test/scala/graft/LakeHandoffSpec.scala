package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.lake.Lake
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DateType, DoubleType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** One Spark job per lake layer boundary: the chains take every counter
  * from the job that writes the layer, and `Lake.read` reuses the schema
  * of an artifact its own instance wrote. These specs hold both to what a
  * fresh look at the lake says — a recount of every layer, and the schema
  * `spark.read.parquet` infers. */
class LakeHandoffSpec extends SparkSpec with Eventually {

  private def tmp(): String = Files.createTempDirectory("graft_handoff").toString

  /** The sf0.01 fixture, a sibling of the shared sf0.001 one. */
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  private def layer(root: String, path: String): DataFrame =
    spark.read.parquet(s"$root/$path")

  /** Runs `body` and returns, with its result, the schema of every
    * unpartitioned parquet write under `root` by the written frame's path
    * below the root, once all of `layers` have been seen (listener events
    * arrive asynchronously). */
  private def withWrites[T](root: String, layers: Seq[String])(
      body: => T): (T, Map[String, StructType]) = {
    val seen = new ConcurrentHashMap[String, StructType]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand if c.partitionColumns.isEmpty =>
            val p = c.outputPath.toUri.getPath
            if (p.startsWith(root) && !p.contains("_compacting_"))
              seen.put(p.drop(root.length + 1), c.query.schema)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      eventually(timeout(30.seconds)) {
        assert(layers.forall(seen.containsKey), s"layers written: ${seen.keySet}")
      }
      (r, seen.asScala.toMap)
    } finally spark.listenerManager.unregister(listener)
  }

  private def marketMapping: DataFrame = {
    import spark.implicits._
    Seq(("w1", "a1")).toDF("from_id", "to_id")
  }

  /** 2 assets and one wrapper of a1, 20 days of well-formed OHLC. */
  private def cleanBronze: DataFrame = {
    import spark.implicits._
    val rows = for {
      asset <- Seq("a1", "w1", "a2")
      day <- 1 to 20
    } yield {
      val base = 100.0 + day + (if (asset == "a2") 50 else 0)
      (asset, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"), base,
        base + 2.0, base - 2.0, base + 1.0, 10.0,
        if (asset == "w1") 1.0 else 1000.0 * day)
    }
    rows.toDF("coin_id", "date", "open", "high", "low", "close", "volume", "market_cap")
  }

  private def recountMarket(root: String, s: Pipelines.Summary, mapping: DataFrame): Unit = {
    val bronze = layer(root, "bronze/historical")
    val silver = layer(root, "silver/historical")
    assert(s.universeRows == layer(root, "universe/monthly").count())
    assert(s.bronzeRows == bronze.count())
    assert(s.silverRows == silver.count())
    assert(s.goldRows == layer(root, "gold/features").count())
    // the merge keeps one row per canonical (id, day); the gate removed
    // every such row that did not reach silver
    val merged = bronze.join(broadcast(mapping), col("coin_id") === col("from_id"), "left")
      .select(coalesce(col("to_id"), col("coin_id")), col("date")).distinct().count()
    assert(s.removedByGate == merged - s.silverRows)
    // the snapshot holds exactly silver's latest day
    val day = date_format(col("date"), "yyyy-MM-dd")
    val latest = silver.agg(max(day)).head.getString(0)
    assert(s.derivativesWritten)
    assert(layer(root, "derivatives/daily").filter(col("snap_date") === latest).count() ==
      silver.filter(day === latest).count())
  }

  /** `afterExact` counts a persisted in-memory frame, not a lake layer;
    * every other field is recounted from the lake. */
  private def recountCorpus(root: String, s: CorpusPipeline.Summary,
      benchSource: String = "src0"): Unit = {
    val deduped = layer(root, "silver/deduped").count()
    val quality = layer(root, "silver/quality")
    val clean = layer(root, "silver/clean")
    val gold = layer(root, "gold/training_mix")
    assert(s.bronzeRows == layer(root, "bronze/documents").count())
    assert(s.afterNearDup == deduped)
    assert(s.removedByQuality == deduped - quality.count())
    assert(s.removedByContamination ==
      quality.filter(col("source") =!= benchSource).count() - clean.count())
    val changed = clean.as("a").join(layer(root, "silver/redacted").as("b"), "doc_id")
      .filter(!(col("a.text") <=> col("b.text"))).count()
    assert(s.piiDocs == changed)
    assert(s.goldRows == gold.count())
    assert(s.goldTokens == gold.agg(coalesce(sum("ws_tokens"), lit(0L))).head.getLong(0))
    assert(s.goldPacks ==
      layer(root, "gold/packed_sequences").select("lang", "pack_id").distinct().count())
  }

  /** Every unpartitioned layer schema a chain wrote, non-nullable fields
    * included: a Lake that writes a frame of that schema reads it back as
    * inference would. */
  private def assertSchemasReused(writes: Map[String, StructType]): Unit = {
    val (lake, root) = newLake()
    writes.foreach { case (name, schema) =>
      val art = name.replace('/', '_')
      val n = lake.write(spark.createDataFrame(java.util.List.of[Row](), schema), "x", art)
      assert(n.rows == 0L)
      assert(lake.read("x", art).schema == spark.read.parquet(s"$root/x/$art").schema, name)
    }
  }

  private def newLake(): (Lake, String) = {
    val root = tmp()
    (new Lake(spark, root), root)
  }

  private val marketLayers = Seq("universe/monthly", "bronze/historical",
    "silver/historical", "gold/features")
  private val corpusLayers = Seq("bronze/documents", "silver/deduped", "silver/quality",
    "silver/clean", "silver/redacted", "gold/training_mix", "gold/packed_sequences")

  private lazy val marketClean = {
    val root = tmp()
    val (s, w) = withWrites(root, marketLayers)(
      Pipelines.run(spark, cleanBronze, marketMapping, root, universeN = 2))
    (root, s, w)
  }

  private lazy val corpusSf01 = {
    val root = tmp()
    val (s, w) = withWrites(root, corpusLayers)(
      CorpusPipeline.run(spark, Tables.documents(spark, sf01), root))
    (root, s, w)
  }

  test("market chain: every Summary counter equals a recount of its lake layer") {
    val (root, s, _) = marketClean
    assert(s == Pipelines.Summary(2, 60, 40, 40, 0, derivativesWritten = true))
    recountMarket(root, s, marketMapping)
    // the sf0.01 events chain, the benchmark's market op
    val root01 = tmp()
    val mapping = {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("from_id", "to_id")
    }
    val s01 = Pipelines.run(spark, Pipelines.bronzeFromEvents(spark, sf01), mapping, root01)
    assert(s01 == Pipelines.Summary(10, 4006, 4006, 4006, 0, derivativesWritten = true))
    recountMarket(root01, s01, mapping)
  }

  test("corpus chain at sf0.01: every Summary counter equals a recount of its lake layer") {
    val (root, s, _) = corpusSf01
    assert(s == CorpusPipeline.Summary(500, 500, 469, 8, 0, 0, 213, 14453, 58))
    recountCorpus(root, s)
  }

  test("corpus chain: the redaction write observes the planted PII document") {
    import spark.implicits._
    val root = tmp()
    val body = (1 to 20).map(i => f"word$i%02d").mkString(" ")
    val raw = Seq(
      (1L, s"reach admin@example.org or 555-867-5309 then $body", "en", "src1"),
      (2L, s"other filler text $body", "en", "src1"),
      (3L, null: String, "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val s = CorpusPipeline.run(spark, raw, root, benchSource = "srcX", minEntropy = None)
    assert(s.piiDocs == 1L)
    recountCorpus(root, s, benchSource = "srcX")
  }

  test("corpus chain with langBudget = 0: gold is empty and goldTokens is 0, not null") {
    val root = tmp()
    val s = CorpusPipeline.run(spark, Tables.documents(spark, sf), root, langBudget = 0)
    assert(s.goldRows == 0L && s.goldTokens == 0L && s.goldPacks == 0L)
    recountCorpus(root, s)
  }

  test("Lake.read reuses each chain layer's schema exactly as inference returns it") {
    assertSchemasReused(marketClean._3)
    assertSchemasReused(corpusSf01._3)
  }

  test("Lake.write counts and observes on the write job; partitioned writes still infer") {
    import spark.implicits._
    val (lake, root) = newLake()
    val df = Seq(("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"), ("2024-01-02", 3L, null))
      .toDF("day", "id", "s")
    lake.write(df, "l", "p")  // an unpartitioned artifact is overwritten below
    val w = lake.write(df, "l", "p", partitionBy = Seq("day"),
      observe = Seq(sum("id").as("ids"), count(col("s")).as("ss")))
    assert(w.rows == 3L && w[Long]("ids") == 6L && w[Long]("ss") == 2L)
    // the partition column comes back last and typed by directory
    // inference (a date, where the written frame had a string)
    val inferred = spark.read.parquet(s"$root/l/p")
    assert(inferred.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "s" -> StringType, "day" -> DateType))
    assert(lake.read("l", "p").schema == inferred.schema)
  }

  test("Lake.read: another Lake's artifact infers; an overwrite with a new schema reads the new one") {
    import spark.implicits._
    val (lake, root) = newLake()
    val other = new Lake(spark, root)
    other.write(Seq((1L, "a")).toDF("id", "s"), "l", "t")
    assert(lake.read("l", "t").schema == spark.read.parquet(s"$root/l/t").schema)
    lake.write(Seq((1L, "a")).toDF("id", "s"), "l", "t")
    lake.write(Seq(("z", 2.5, Seq(1L))).toDF("k", "v", "arr"), "l", "t")
    val back = lake.read("l", "t")
    assert(back.schema == spark.read.parquet(s"$root/l/t").schema)
    assert(back.schema == StructType(Seq(StructField("k", StringType),
      StructField("v", DoubleType), StructField("arr", ArrayType(LongType)))))
    assert(back.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("z", 2.5)))
  }
}

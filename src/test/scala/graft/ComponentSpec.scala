package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.icelite.IceCatalog
import graft.model.KeboolaManifest
import graft.sources.StorageApiClient

/** End-to-end `/data`-contract runs: extractor, writer (all three modes),
  * sync actions, error taxonomy, and the Storage API client's retry loop.
  */
class ComponentSpec extends SparkSpec {

  private def dataDir(tag: String): String = {
    val d = scratch(s"component-$tag")
    Files.createDirectories(Paths.get(d, "in", "tables"))
    Files.createDirectories(Paths.get(d, "out"))
    d
  }

  private def writeConfig(dir: String, json: String): Unit =
    Files.writeString(Paths.get(dir, "config.json"), json)

  private def seedTable(wh: String): Unit = {
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    cat.createTable("lake", "nation_t", n.schema).append(n)
  }

  test("extractor run writes quoted CSV + manifest") {
    val d = dataDir("ex")
    val wh = scratch("component-ex-wh")
    seedTable(wh)
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"mode": "selected_columns", "columns": ["n_nationkey", "n_name"]},
         |  "unknown_platform_key": {"x": 1}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val outDir = s"$d/out/tables/nation_t.csv"
    val manifest = KeboolaManifest.fromJson(
      Files.readString(Paths.get(s"$outDir.manifest")))
    assert(manifest.columns == Seq("n_nationkey", "n_name"))
    assert(manifest.schema.map(_.baseType) == Seq("INTEGER", "STRING"))
    val back = KeboolaCsvBack(outDir, manifest)
    assert(back.count() == 25)
  }

  test("extractor run pinned to an older snapshot_id reads that snapshot") {
    val d = dataDir("ex-pinned")
    val wh = scratch("component-ex-pinned-wh")
    seedTable(wh)
    val tbl = new IceCatalog(spark, wh).loadTable("lake", "nation_t")
    tbl.append(tbl.toDF.limit(5))
    val snaps = tbl.snapshots
    assert(snaps.map(_.totalRows) == Seq(25L, 30L))
    // a small id is what Jackson used to box as an Integer
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"mode": "all_data", "snapshot_id": ${snaps.head.snapshotId}}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val outDir = s"$d/out/tables/nation_t.csv"
    val manifest = KeboolaManifest.fromJson(
      Files.readString(Paths.get(s"$outDir.manifest")))
    assert(KeboolaCsvBack(outDir, manifest).count() == 25)
  }

  private def KeboolaCsvBack(dir: String, m: KeboolaManifest) =
    graft.sources.KeboolaCsv.read(spark, dir, m)

  test("writer run appends, then upserts with manifest PK fallback") {
    val d = dataDir("wr")
    val wh = scratch("component-wr-wh")
    // stage input CSV from the region table, duplicated rows -> upsert dedups
    val r = graft.queries.QUtil.t(spark, sfDir, "region")
    val csvDir = s"$d/in/tables/region.csv"
    graft.sources.KeboolaCsv.writeQuoted(r.unionByName(r), csvDir, singleFile = true)
    val manifest = KeboolaManifest.forSchema(r.schema, primaryKey = Seq("r_regionkey"))
    Files.writeString(Paths.get(s"$csvDir.manifest"), KeboolaManifest.toJson(manifest))
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "wr_destination": {"namespace": "lake", "table_name": "region_t", "mode": "upsert"}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val cat = new IceCatalog(spark, wh)
    val tbl = cat.loadTable("lake", "region_t")
    assert(tbl.toDF.count() == 5, "duplicated source rows must dedup by PK")
    // second run: still 5 rows (idempotent upsert), one more snapshot
    assert(ComponentMain.execute(spark, d) == 0)
    assert(cat.loadTable("lake", "region_t").toDF.count() == 5)
    assert(cat.loadTable("lake", "region_t").snapshots.size == 2)
  }

  test("sync actions emit JSON on stdout") {
    val d = dataDir("sync")
    val wh = scratch("component-sync-wh")
    seedTable(wh)
    writeConfig(d,
      s"""{"action": "list_columns", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"}}}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf)) {
      ComponentMain.execute(spark, d)
    }
    assert(code == 0)
    val out = buf.toString.trim
    assert(out.startsWith("[") && out.endsWith("]"), s"not a JSON array: $out")
    assert(out.contains("\"label\": \"n_name (STRING)\""), out)
  }

  test("query_preview sync action: custom SQL -> row-capped JSON preview") {
    val d = dataDir("preview")
    val wh = scratch("component-preview-wh")
    seedTable(wh)
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"mode": "custom_query",
         |    "query": "SELECT n_name, n_regionkey FROM nation_t WHERE n_regionkey = 1 ORDER BY n_name"}
         |}}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf)) {
      ComponentMain.execute(spark, d)
    }
    assert(code == 0)
    val out = buf.toString.trim
    assert(out.startsWith("[") && out.endsWith("]"), s"not a JSON array: $out")
    assert(out.contains("\"n_regionkey\":1"), out)
    assert(!out.contains("\"n_regionkey\":2"), "WHERE clause ignored")

    // empty query previews the table, capped at 100 rows
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"}}}""".stripMargin)
    val buf2 = new ByteArrayOutputStream()
    assert(Console.withOut(new PrintStream(buf2)) {
      ComponentMain.execute(spark, d)
    } == 0)
    assert(buf2.toString.trim.split("\\},\\s*\\{").length == 25)

    // statements are refused as a user error, not executed
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"query": "DROP TABLE nation_t"}}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 1)

    // a CTE-prefixed INSERT starts with WITH yet is DML: it must be refused
    // by the plan-level guard AND must not mutate the table
    val rowsBefore = spark.sql("SELECT count(*) FROM nation_t").head.getLong(0)
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"query":
         |    "WITH x AS (SELECT * FROM nation_t) INSERT INTO nation_t SELECT * FROM x"}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 1,
      "CTE-prefixed INSERT must be refused as a user error")
    assert(spark.sql("SELECT count(*) FROM nation_t").head.getLong(0) == rowsBefore,
      "refused preview DML must not mutate the table")
  }

  test("writer accepts a parquet input table") {
    val d = dataDir("wrpq")
    val wh = scratch("component-wrpq-wh")
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    n.coalesce(1).write.parquet(Paths.get(d, "in", "tables", "nation.parquet").toString)
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "wr_destination": {"namespace": "lake", "table_name": "nation_w",
         |                     "mode": "append"}}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val back = new IceCatalog(spark, wh).loadTable("lake", "nation_w").toDF
    assert(back.count() == n.count())
    assert(back.schema == n.schema)
  }

  test("error taxonomy: user error 1, missing config 1, bad mode 1") {
    val d = dataDir("err")
    writeConfig(d, """{"action": "run", "parameters": {"catalog": {"warehouse": ""}}}""")
    assert(ComponentMain.execute(spark, d) == 1)
    assert(ComponentMain.execute(spark, scratch("component-noconf")) == 1)
    val d2 = dataDir("err2")
    writeConfig(d2,
      s"""{"action": "nope", "parameters": {"catalog": {"warehouse": "${scratch("w")}"}}}""")
    assert(ComponentMain.execute(spark, d2) == 1)
  }

  test("storage api client retries then succeeds") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/v2/storage/tables/in.c-main.test", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val n = hits.incrementAndGet()
        val (code, body) =
          if (n < 3) (500, "flaky")
          else (200, """{"id": "in.c-main.test", "columns": ["a", "b", "c"]}""")
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = new StorageApiClient(url, "tok", backoffMillis = 10L)
      assert(client.getTableColumns("in.c-main.test") == Seq("a", "b", "c"))
      assert(hits.get() == 3)
    } finally server.stop(0)
  }

  test("list_table_columns sync action: input-mapping table id -> Storage API") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v2/storage/tables/in.c-main.widgets", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = """{"id": "in.c-main.widgets", "columns": ["id", "name", "price"]}"""
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val d = dataDir("ltc")
      writeConfig(d,
        s"""{"action": "list_table_columns",
           | "parameters": {"catalog": {"warehouse": "${scratch("ltc-wh")}"}},
           | "storage": {"input": {"tables": [
           |   {"source": "in.c-main.widgets", "destination": "widgets.csv"}]}}}""".stripMargin)
      val buf = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(new java.io.PrintStream(buf)) {
        ComponentMain.execute(spark, d,
          env = Map("KBC_URL" -> url, "KBC_TOKEN" -> "tok"))
      }
      assert(code == 0)
      val out = buf.toString("UTF-8").trim
      assert(out == """[{"label": "id", "value": "id"}, """ +
        """{"label": "name", "value": "name"}, """ +
        """{"label": "price", "value": "price"}]""", out)
      // no input mapping -> user error (exit 1), matching wr:163-164
      val d2 = dataDir("ltc2")
      writeConfig(d2,
        s"""{"action": "list_table_columns",
           | "parameters": {"catalog": {"warehouse": "${scratch("ltc-wh2")}"}}}""".stripMargin)
      assert(ComponentMain.execute(spark, d2,
        env = Map("KBC_URL" -> url, "KBC_TOKEN" -> "tok")) == 1)
    } finally server.stop(0)
  }
}

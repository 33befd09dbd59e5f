package graft

import graft.etl.{BronzeIngest, HttpSource}
import org.apache.spark.sql.functions._

/** S1 live-HTTP leg (`BronzeIngestUsers.py:23-27`): the fetch→bronze path
  * against (a) a pure function stub and (b) the production
  * `java.net.http` transport served by a loopback fixture server — no
  * network egress either way. The page both legs serve is the committed
  * test resource `characters.json`, hand-written to the characters API
  * schema (FIXTURES.md §5). */
class HttpSourceSpec extends SparkSpec {

  private val charactersResource = "/characters.json"

  // lazy: a missing resource fails only the tests that read the page
  private lazy val charactersJson: String = {
    val in = Option(getClass.getResourceAsStream(charactersResource))
      .getOrElse(fail(s"test resource $charactersResource is not on the classpath"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("stub transport: fetch -> bronze over the reference characters page") {
    @volatile var seen: Option[HttpSource.Request] = None
    val stub: HttpSource.Transport = { req => seen = Some(req); charactersJson }
    val df = HttpSource.fetchJson(spark,
      HttpSource.Request("https://example.test/api/character",
        Map("x-signature" -> "test-sig")),
      stub)
    assert(seen.get.url == "https://example.test/api/character")
    assert(seen.get.headers("x-signature") == "test-sig")
    val results = df.select(explode(col("results")).as("c"))
      .select(col("c.id").as("id"), col("c.name").as("name"),
        col("c.origin.name").as("origin"))
    assert(results.count() > 0)
    assert(results.filter(col("name") === "Rick Sanchez").count() == 1)
    // and on through the bronze path: stamp + dedup survive the fetch
    val bronze = BronzeIngest.dedup(
      BronzeIngest.stamp(results, java.time.LocalDate.of(2024, 9, 1)),
      Seq("id"))
    assert(bronze.columns.contains("processing_date"))
    assert(bronze.count() == results.count())
  }

  test("fetchJsonPaged follows info.next across pages and lands the union") {
    def page(n: Int, next: Option[String]) =
      s"""{"info":{"count":4,"pages":2,"next":${next.map("\"" + _ + "\"").getOrElse("null")}},
         |"results":[{"id":${n * 2 - 1},"name":"c${n * 2 - 1}"},
         |           {"id":${n * 2},"name":"c${n * 2}"}]}""".stripMargin
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val stub: HttpSource.Transport = { req =>
      calls += req.url
      if (req.url.endsWith("page=2")) page(2, None)
      else page(1, Some("https://api.test/character?page=2"))
    }
    val df = HttpSource.fetchJsonPaged(spark,
      HttpSource.Request("https://api.test/character"),
      nextUrl = HttpSource.jsonStringAt("info", "next"),
      transport = stub)
    assert(calls.toSeq == Seq(
      "https://api.test/character", "https://api.test/character?page=2"))
    val ids = df.select(explode(col("results.id"))).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L), "both pages' results land")
    // a cycle trips the bound instead of looping forever
    val cyclic: HttpSource.Transport =
      _ => page(1, Some("https://api.test/character?page=1"))
    intercept[IllegalArgumentException] {
      HttpSource.fetchJsonPaged(spark,
        HttpSource.Request("https://api.test/character"),
        nextUrl = HttpSource.jsonStringAt("info", "next"),
        transport = cyclic, maxPages = 5)
    }
  }

  test("javaHttpTransport GETs with headers from a loopback fixture server") {
    // read on the test thread, so a missing page fails here, not in the
    // server's handler thread
    val bytes = charactersJson.getBytes("UTF-8")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var gotSignature: String = null
    server.createContext("/api/character",
      (exchange: com.sun.net.httpserver.HttpExchange) => {
        gotSignature = exchange.getRequestHeaders.getFirst("x-signature")
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
    server.createContext("/missing",
      (exchange: com.sun.net.httpserver.HttpExchange) => {
        exchange.sendResponseHeaders(404, -1)
        exchange.close()
      })
    server.start()
    try {
      val port = server.getAddress.getPort
      val df = HttpSource.fetchJson(spark,
        HttpSource.Request(s"http://127.0.0.1:$port/api/character",
          Map("x-signature" -> "live-sig")))
      assert(gotSignature == "live-sig",
        "auth header must reach the server (ref BronzeIngestUsers.py:16-18)")
      assert(df.select(explode(col("results"))).count() > 0)
      // non-2xx fails loudly, like the reference's raise_for_status
      intercept[IllegalArgumentException] {
        HttpSource.fetchJson(spark,
          HttpSource.Request(s"http://127.0.0.1:$port/missing"))
      }
    } finally server.stop(0)
  }

  test("URL fan-out fetches on executors, one client per partition") {
    val clientInits = spark.sparkContext.longAccumulator("clientInits")
    val fetches = spark.sparkContext.longAccumulator("fetches")
    // deterministic fake transport: the payload is derived from the URL;
    // the factory runs where the partition runs
    val factory: () => HttpSource.Transport = () => {
      clientInits.add(1)
      req => {
        fetches.add(1)
        val id = req.url.split("/").last.toInt
        s"""{"id": $id, "name": "item_$id", "auth": "${req.headers.getOrElse("x-signature", "")}"}"""
      }
    }
    val urls = (1 to 40).map(i => s"http://api.example/item/$i")
    val landing = java.nio.file.Files.createTempDirectory("fanout").toString + "/raw"
    val df = HttpSource.fetchJsonFanout(spark, urls, landing,
      Map("x-signature" -> "sig"), factory, parallelism = 8)
    assert(df.count() == 40)
    assert(df.select(sum(col("id"))).head().getLong(0) == (1 to 40).sum)
    assert(df.filter(col("auth") === "sig").count() == 40,
      "headers must travel to the executor-side requests")
    assert(fetches.value == 40,
      "every URL fetched EXACTLY once — actions must replay from the landing zone, not the API")
    assert(clientInits.value == 8,
      s"one transport per partition, got ${clientInits.value}")
    // the raw payloads landed for replay/quarantine
    assert(spark.read.parquet(landing).count() == 40)
  }

  test("fan-out runs land side by side: a refresh never clobbers prior raw bytes") {
    val factory: () => HttpSource.Transport = () => { req =>
      s"""{"id": ${req.url.split("/").last.toInt}}"""
    }
    val landing = java.nio.file.Files.createTempDirectory("fanout2").toString + "/raw"
    val urls = (1 to 5).map(i => s"http://api.example/item/$i")
    HttpSource.fetchJsonFanout(spark, urls, landing,
      transportFactory = factory, runId = "r1")
    val refresh = HttpSource.fetchJsonFanout(spark, urls, landing,
      transportFactory = factory, runId = "r2")
    assert(refresh.count() == 5, "the returned frame is THIS run's payloads only")
    // both runs' raw bytes remain, one partitioned zone
    val zone = spark.read.parquet(landing)
    assert(zone.count() == 10)
    assert(zone.select("run").distinct().count() == 2,
      "each run is its own landing partition")
    // a duplicate run id is an error, never a silent merge
    intercept[Exception] {
      HttpSource.fetchJsonFanout(spark, urls, landing,
        transportFactory = factory, runId = "r1")
    }
  }

  test("empty URL list short-circuits: no fetches, no unreadable landing dir") {
    val fetches = spark.sparkContext.longAccumulator("noFetches")
    val factory: () => HttpSource.Transport = () => { req =>
      fetches.add(1); "{}"
    }
    val landing = java.nio.file.Files.createTempDirectory("fanout3").toString + "/raw"
    val df = HttpSource.fetchJsonFanout(spark, Seq.empty, landing,
      transportFactory = factory)
    assert(df.count() == 0)
    assert(fetches.value == 0)
    assert(!new java.io.File(landing).exists(),
      "an empty fetch must not leave a landing dir schema inference chokes on")
  }
}

package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Duration

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

import graft.ops.Relational

/** Transport abstraction for [[PagedHttp]]: production uses [[PagedHttp.JdkFetcher]];
  * tests inject an in-memory map of URI → body (the reference tests the same
  * surface with a local WireMock server). */
trait PageFetcher { def fetch(uri: String): String }

/** S7 — paginated HTTP API source with a local read-through cache
  * (reference: ml/AMODatabase.scala:59-106).
  *
  * The reference walks an API's `next` links on the driver, folds each
  * page's `results` into a guid-keyed map (later pages override earlier on
  * key collision), and memoizes the whole database as a local JSON file.
  *
  * Spark-first split of the same capability:
  *  - ONLY pagination runs on the driver (the page chain is inherently
  *    sequential and the payload is API metadata, i.e. small);
  *  - parsing, result explosion, and key-dedup run on the cluster as a
  *    `from_json` + `posexplode` + latest-per-key plan — so a "small" API
  *    that turns out to be millions of rows still scales past driver memory
  *    the moment the raw pages are parallelized;
  *  - the resulting DataFrame is broadcast-join-ready for enrichment
  *    (the reference's `getAddonNameById` map lookups become a
  *    `broadcast(addons)` join).
  */
object PagedHttp {

  private val mapper = new ObjectMapper()

  /** Default transport over java.net.http (JDK 11+, no extra deps). */
  final class JdkFetcher(timeout: Duration = Duration.ofSeconds(30)) extends PageFetcher {
    private lazy val client =
      HttpClient.newBuilder().connectTimeout(timeout).followRedirects(HttpClient.Redirect.NORMAL).build()
    def fetch(uri: String): String = {
      val req = HttpRequest.newBuilder(URI.create(uri)).timeout(timeout).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() / 100 == 2, s"GET $uri -> HTTP ${resp.statusCode()}")
      resp.body()
    }
  }

  /** Driver-side pagination: fetch `firstUri`, then follow the top-level
    * `next` link until it is null/absent (reference's tailrec
    * `fetchAMOPage`, AMODatabase.scala:62-83). Returns raw page bodies in
    * fetch order; a 100000-page cap guards against a cyclic API. */
  def fetchPages(fetcher: PageFetcher, firstUri: String): Seq[String] = {
    @tailrec
    def loop(uri: Option[String], acc: Vector[String]): Vector[String] = uri match {
      case Some(u) if acc.size < 100000 =>
        val body = fetcher.fetch(u)
        val next = Option(mapper.readTree(body).get("next"))
          .filterNot(_.isNull).map(_.asText)
        loop(next, acc :+ body)
      case _ => acc
    }
    loop(Option(firstUri), Vector.empty)
  }

  /** Read-through local cache with the reference's semantics
    * (AMODatabase.scala:91-106): cache hit skips fetching entirely; miss
    * runs `fetch`, persists the pages, and returns them. Pages are stored
    * as one JSON array of strings (bodies may contain newlines). */
  def cachedPages(cachePath: Path)(fetch: => Seq[String]): Seq[String] = {
    // a crash mid-write must not poison the cache: write goes to a temp
    // sibling then atomically moves into place, and an unparseable cache
    // file (pre-atomic leftovers, manual edits) falls back to a re-fetch
    // instead of failing every future run
    def readCache(): Option[Seq[String]] =
      try Some(mapper.readTree(Files.readString(cachePath, StandardCharsets.UTF_8))
        .elements().asScala.map(_.asText).toVector)
      catch { case scala.util.control.NonFatal(_) => None }
    val hit = if (Files.exists(cachePath)) readCache() else None
    hit.getOrElse {
      val pages = fetch
      val tmp = cachePath.resolveSibling(cachePath.getFileName.toString + ".tmp")
      Files.write(tmp,
        mapper.writeValueAsString(pages.toArray).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, cachePath, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      pages
    }
  }

  /** Page bodies → one row per result record, de-duplicated on `keyField`
    * with the LAST page occurrence winning — exactly the reference's
    * `addonMap ++ partialMap` merge order (AMODatabase.scala:75-79).
    * `resultType` declares the fields to keep (everything else is pruned at
    * parse time, like the reference's case-class extraction). */
  def resultsFrame(spark: SparkSession, pages: Seq[String], resultType: StructType,
                   resultsField: String = "results", keyField: String = "guid"): DataFrame = {
    import spark.implicits._
    val pageSchema = StructType(Seq(StructField(resultsField, ArrayType(resultType))))
    val exploded = spark.createDataset(pages).toDF("body")
      .withColumn("page", monotonically_increasing_id())
      .select(col("page"),
        posexplode(from_json(col("body"), pageSchema).getField(resultsField))
          .as(Seq("pos", "r")))
      .withColumn("key", col("r").getField(keyField))
    Relational.latestPerKey(exploded, Seq("key"),
        Seq(col("page").desc, col("pos").desc))
      .select(col("r.*"))
  }

  /** One-call form: paginate (through the cache if given), then build the
    * de-duplicated results frame. */
  def load(spark: SparkSession, fetcher: PageFetcher, firstUri: String,
           resultType: StructType, resultsField: String = "results",
           keyField: String = "guid", cachePath: Option[Path] = None): DataFrame = {
    val pages = cachePath match {
      case Some(p) => cachedPages(p)(fetchPages(fetcher, firstUri))
      case None    => fetchPages(fetcher, firstUri)
    }
    resultsFrame(spark, pages, resultType, resultsField, keyField)
  }
}

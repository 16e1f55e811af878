package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's front door for a live HTTP feed — parity with the
  * reference's extract step (extract.go:11-33: `http.Get` → status
  * check → JSON decode; main.go:19 takes the API URL as a flag).
  *
  * Design: the FETCH is a driver-side loop over page URLs with an
  * injectable transport; the PARSE is the existing distributed
  * `VehicleFeed.extract` over a `Dataset[String]` of raw page bodies.
  * That split is deliberate: an API feed is small (the reference's is
  * ~1000 vehicles/page) and rate-limited, so fetching belongs on the
  * driver; everything after the raw strings — JSON decode, validity
  * filter, upsert — is the distributed hot path. When the feed is big,
  * pages land in object storage instead and the same parse runs over
  * a distributed text scan of those files.
  *
  * Error semantics: a transport failure (non-200, timeout) throws —
  * the reference fails the whole batch the same way (extract.go:24-27).
  * A page that fetches but does not parse flows into
  * `VehicleFeed.corruptPayloads` downstream (per-record drop + dead
  * letter, the at-scale behavior).
  */
object PagedSource {

  /** url → response body; throws on transport failure. Injectable so
    * tests (and offline environments) stub it. */
  type Transport = String => String

  /** Default transport: blocking HTTP GET, erroring on non-200 —
    * `http.Get` + status check parity (extract.go:17-27). */
  def httpTransport(timeoutMs: Int = 10000): Transport = { url =>
    val conn = java.net.URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    try {
      val code = conn.getResponseCode
      if (code != 200) throw new java.io.IOException(s"GET $url: HTTP $code")
      val in = conn.getInputStream
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } finally conn.disconnect()
  }

  /** Offset-paged URLs for an API that takes limit/offset query params
    * (the MBTA-style `page[limit]`/`page[offset]` convention). */
  def pageUrls(baseUrl: String, pages: Int, pageSize: Int,
               limitParam: String = "page[limit]",
               offsetParam: String = "page[offset]"): Seq[String] = {
    val sep = if (baseUrl.contains("?")) "&" else "?"
    (0 until pages).map(p => s"$baseUrl$sep$limitParam=$pageSize&$offsetParam=${p * pageSize}")
  }

  /** Fetch every page body on the driver, then hand the raw strings to
    * the cluster as a `Dataset[String]` — the seam a user plugs a URL
    * into: `extract(fetchPages(spark, urls, transport))`. */
  def fetchPages(spark: SparkSession, urls: Seq[String],
                 transport: Transport): Dataset[String] = {
    import spark.implicits._
    val bodies = urls.map(transport)
    spark.createDataset(bodies)
  }

  /** One-call front door: fetch → extract → transform, producing the
    * observation frame `VehicleFeed.latest` upserts — the Spark form of
    * the reference's fetch→transform step (pipeline.go:63-83). */
  def observations(spark: SparkSession, urls: Seq[String],
                   transport: Transport): org.apache.spark.sql.DataFrame =
    VehicleFeed.transform(VehicleFeed.extract(fetchPages(spark, urls, transport)))
}

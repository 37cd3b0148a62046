package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The topic → device fan-out pipeline from the reference's
  * lambda_count / lambda_page stages, re-expressed relationally.
  *
  * Entity mapping (SURVEY.md §3): subscription(topicid, userid) ≈
  * customer(c_nationkey, c_custkey); userdevices(userid, endpointarn)
  * ≈ orders(o_custkey, 'arn:'||o_orderkey).
  *
  * Scale notes: the reference paginates with a global
  * `ORDER BY userid LIMIT/OFFSET` per page (s3_lambda/download.go:
  * 383-416) — O(pages) repeated scans and a total order, inherently
  * serial. We keep an oracle-matching single-topic variant,
  * [[pageArns]]: its window has no partition spec, but Spark plans the
  * `rn <= page·size` filter as a per-partition top-(page·size) below
  * it (`TakeOrderedAndProject`), so one task ranks at most page·size
  * rows. [[pagesScalable]] numbers rows per topic in ONE pass with a
  * partitioned window — one shuffle on topic, linear scale-out.
  * [[sqsBatches]] and [[firstLastPageNotifications]] need only device
  * counts, so they rank no device rows at all.
  */
object Paging {

  val PageSize  = 100 // reference uses 10000 (lcount.go:178); scaled to test SF
  val BatchSize = 10  // SQS batch size, lpage.go:140

  /** subscription ⋈ userdevices equivalent: one row per device with its
    * topic. customer is the small side → broadcast (no fact shuffle).
    */
  def devices(t: Tables): DataFrame =
    t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_nationkey").cast("long").as("topic_id"),
        col("o_custkey").as("user_id"),
        concat(lit("arn:"), col("o_orderkey")).as("endpoint_arn"),
        col("o_orderkey").as("device_id")
      )

  /** A4: per-topic page count `(count(devices)/pagesize)+1` —
    * lambda_count/lcount.go:171-183. Partial-agg'd count, one shuffle.
    */
  def topicPageCounts(t: Tables): DataFrame =
    devices(t)
      .groupBy("topic_id")
      .agg(count(lit(1)).as("n_devices"), pageCount.as("page_count"))
      .orderBy("topic_id")

  /** A topic's page count as an aggregate: `count/pagesize + 1`. */
  private def pageCount = (floor(count(lit(1)) / PageSize) + 1).cast("long")

  /** A5: settings-table override with computed fallback —
    * lambda_count/lcount.go:185-196 & 131-136 (use lambdasettings value
    * if > 0, else the computed count). Settings modeled as per-user
    * 'signup' events; default page count computed from the user's
    * device count; final fallback 1 (count 0 → 0/pagesize+1).
    */
  def settingsOverride(t: Tables): DataFrame = {
    val computed = t.orders
      .groupBy(col("o_custkey"))
      .agg((floor(count(lit(1)) / PageSize) + 1).cast("long").as("computed_pages"))
    val overrides = t.events
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(floor(min(col("value"))).cast("long").as("override_pages"))
    t.customer
      .select(col("c_custkey"))
      .join(computed, col("c_custkey") === col("o_custkey"), "left")
      .join(broadcast(overrides), col("c_custkey") === col("user_id"), "left")
      .select(
        col("c_custkey"),
        // the reference only honors a settings value when it is > 0
        // (lcount.go getDevicesByTopicIDPageCount: `if dbcount > 0`);
        // a 0/negative settings row falls back to the computed count
        coalesce(
          when(col("override_pages") > 0, col("override_pages")),
          col("computed_pages"),
          lit(1L)
        ).as("page_count")
      )
      .orderBy("c_custkey")
  }

  /** A6: one page of device ARNs for a topic, ordered by user —
    * lambda_page/lpage.go:126, s3_lambda/download.go:383-416. The
    * reference's LIMIT/OFFSET becomes a row_number window; ordering is
    * (user_id, device_id) because the reference's bare `order by
    * userid` is nondeterministic across ties.
    */
  def pageArns(t: Tables, topicId: Long, pageNum: Int, pageSize: Int = PageSize): DataFrame = {
    val w = Window.orderBy("user_id", "device_id")
    devices(t)
      .filter(col("topic_id") === topicId)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") > (pageNum - 1) * pageSize && col("rn") <= pageNum * pageSize)
      .select(col("rn"), col("user_id"), col("endpoint_arn"))
      .orderBy("rn")
  }

  /** Scale path for A6: page-number every device of every topic in one
    * pass — window partitioned by topic (one shuffle, no global sort),
    * then per-page rollup. This is what replaces per-page LIMIT/OFFSET
    * re-scans at 100 TB.
    */
  def pagesScalable(t: Tables, pageSize: Int = PageSize): DataFrame = {
    val w = Window.partitionBy("topic_id").orderBy("user_id", "device_id")
    devices(t)
      .withColumn("rn", row_number().over(w))
      .withColumn("page_num", (floor((col("rn") - 1) / pageSize) + 1).cast("long"))
      .groupBy("topic_id", "page_num")
      .agg(count(lit(1)).as("page_rows"))
      .orderBy("topic_id", "page_num")
  }

  /** A7: fixed-size SQS batches of 10 — lambda_page/lpage.go:135-146.
    * Devices in (user_id, device_id) order are cut into batches of
    * [[BatchSize]], so a topic's batches depend only on its device count
    * n: batch b holds ranks 10b+1 … min(10b+10, n). One global count,
    * then one row per batch from `sequence`; no device row is ranked or
    * moved to one task. A topic without devices has no batches.
    */
  def sqsBatches(t: Tables, topicId: Long): DataFrame = {
    val (n, b) = (col("n_devices"), col("batch_id"))
    devices(t)
      .filter(col("topic_id") === topicId)
      .agg(count(lit(1)).as("n_devices"))
      .select(n, explode(when(n > 0, sequence(lit(0L), floor((n - 1) / BatchSize)))).as("batch_id"))
      .select(
        b,
        least(n - b * BatchSize, lit(BatchSize.toLong)).as("batch_size"),
        (b * BatchSize + 1).as("first_rn"),
        least(b * BatchSize + BatchSize, n).as("last_rn")
      )
      .orderBy("batch_id")
  }

  /** A8: fan-out payload formatting — lambda_page/lpage.go:135
    * (`"arn:%v|%v"` then base64, note the reference double-prefixes
    * "arn:" — kept faithfully), message from kinesis_topic/main.go:23.
    */
  def fanoutPayloads(t: Tables, topicId: Long, message: String): DataFrame =
    pageArns(t, topicId, pageNum = 1)
      .select(
        col("rn"),
        col("endpoint_arn"),
        // Spark's base64 MIME-chunks with CRLF every 76 chars; strip to
        // get the canonical single-line RFC 4648 form producers expect.
        regexp_replace(
          base64(concat(lit("arn:"), col("endpoint_arn"), lit("|"), lit(message)).cast("binary")),
          "[\\r\\n]",
          ""
        ).as("payload_b64")
      )
      .orderBy("rn")

  /** A15's sink input: EVERY device's fan-out payload (all topics),
    * formatted like [[fanoutPayloads]] (lpage.go:135's double "arn:"
    * prefix kept faithfully). device_id rides along as the
    * deterministic replay-slicing key.
    */
  def queuePayloads(t: Tables, message: String): DataFrame =
    devices(t)
      .select(
        col("topic_id"),
        col("device_id"),
        regexp_replace(
          base64(concat(lit("arn:"), col("endpoint_arn"), lit("|"), lit(message)).cast("binary")),
          "[\\r\\n]",
          ""
        ).as("payload_b64")
      )

  /** A9: first/last-page notification rows — lambda_count/lcount.go:
    * 139-156 (SNS publish on 1st and last page), lambda_page/lpage.go:
    * 166-173. A topic with one page emits both rows, like the
    * reference does. One aggregate gives each topic's page count, and
    * `stack` turns it into the two rows.
    */
  def firstLastPageNotifications(t: Tables): DataFrame =
    devices(t)
      .groupBy("topic_id")
      .agg(pageCount.as("page_count"))
      .select(
        col("topic_id"),
        stack(
          lit(2),
          lit(1L),
          lit("Count: 1st page sent"),
          col("page_count"),
          concat(lit("Count: Last Page Sent: "), col("page_count"))
        ).as(Seq("page_num", "message"))
      )
      .orderBy("topic_id", "page_num", "message")

  /** A13: end-to-end fan-out volume per topic: devices → pages →
    * SQS batches (lpage.go:126-156 composed).
    */
  def topicFanoutCounts(t: Tables): DataFrame =
    devices(t)
      .groupBy("topic_id")
      .agg(
        count(lit(1)).as("n_devices"),
        pageCount.as("n_pages"),
        ceil(count(lit(1)) / lit(BatchSize.toDouble)).cast("long").as("n_batches")
      )
      .orderBy("topic_id")
}

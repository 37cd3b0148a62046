package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The math-problem map operators from the reference's adder/multiplier
  * lambdas, re-expressed as narrow codegen'd projections.
  *
  * Reference: adder-labma/adder.go:38-56 (base64+JSON decode, add,
  * "a + b = c" answer string, md5 content-addressed result key),
  * multi-lambda/multi.go:52-56 (multiply, "multi-" key prefix).
  *
  * The reference keys output objects by md5 of a wall-clock timestamp;
  * we key by md5 over the record identity instead so results are
  * deterministic and idempotent under retry — at 100 TB re-running a
  * failed task MUST NOT mint new keys (exactly-once sink semantics).
  * All expressions are built-in functions, so each map is one
  * whole-stage-codegen pass over the scan. Every result then ends in a
  * global `orderBy`, which is one range-partitioned shuffle (planned
  * with one partition and no sampling job when the input is small;
  * see `graft.plans.SmallSort`).
  */
object MathOps {

  /** The `{Num1, Num2}` problem payload inside a Kinesis record's data. */
  private val payloadSchema = StructType(
    Seq(StructField("Num1", LongType), StructField("Num2", LongType))
  )

  /** Derive the {Num1, Num2} problem stream deterministically from the
    * events table (kinesis_stream/main.go:24-27 uses rand 0..99).
    */
  private def problems(t: Tables): DataFrame =
    t.events.select(
      col("event_id"),
      pmod(col("event_id"), lit(100)).as("num1"),
      pmod(col("user_id"), lit(100)).as("num2")
    )

  private def answered(t: Tables, op: String, keyPrefix: String): DataFrame = {
    val result = op match {
      case "+" => col("num1") + col("num2")
      case "*" => col("num1") * col("num2")
    }
    problems(t)
      .select(
        col("event_id"),
        col("num1"),
        col("num2"),
        concat(col("num1"), lit(s" $op "), col("num2"), lit(" = "), result).as("answer"),
        concat(lit(keyPrefix), md5(concat(lit(keyPrefix), col("event_id").cast("string"))))
          .as("result_key")
      )
      .orderBy("event_id")
  }

  /** A1: adder-labma/adder.go:49-56. */
  def adder(t: Tables): DataFrame = answered(t, "+", "add-")

  /** A2: multi-lambda/multi.go:52-56. */
  def multiplier(t: Tables): DataFrame = answered(t, "*", "multi-")

  /** A3b: the producer as a DataSource V2 connector — read the
    * deterministic envelope source (sources/ProblemSource), decode,
    * and solve. The whole producer→consumer flow is one plan with
    * generation happening executor-side.
    */
  def dsv2Problems(spark: org.apache.spark.sql.SparkSession, numRows: Long = 10000L): DataFrame = {
    spark.read
      .format("graft.sources.ProblemSource")
      .option("numRows", numRows)
      .option("numPartitions", 32)
      .load()
      .select(
        col("seq"),
        from_json(unbase64(col("data")).cast("string"), payloadSchema).as("p")
      )
      .select(
        col("seq"),
        col("p.Num1").as("num1"),
        col("p.Num2").as("num2"),
        (col("p.Num1") + col("p.Num2")).as("num_sum")
      )
      .orderBy("seq")
  }

  /** A3c: the FULL Lambda input contract, not just the inner payload —
    * the reference unmarshals a whole `KinesisPayload{Records[]{kinesis
    * {data, partitionKey, sequenceNumber}}}` event and iterates Records
    * (adder-labma/types.go:3-19, lambda_count/lcount.go:254-270).
    *
    * Producer half: group `recordsPerEvent` problem records into one
    * event JSON (records ordered by sequence number, like a shard
    * batch). Consumer half: `from_json` with the nested Records schema
    * → `explode(Records)` → per-record unbase64 + inner `from_json` —
    * exactly the Lambda handler's decode path, as one Catalyst plan.
    * Both halves shuffle once (the groupBy); every expression is a
    * built-in. Hash-verified against a DuckDB json_extract/unnest
    * oracle that performs the same build → decode round trip.
    */
  def lambdaEventDecode(t: Tables, recordsPerEvent: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // producer: per-record kinesis envelope struct
    val rec = t.events.select(
      expr(s"event_id div $recordsPerEvent").as("batch_id"),
      col("event_id"),
      struct(
        struct(
          base64(
            to_json(
              struct(
                pmod(col("event_id"), lit(100)).as("Num1"),
                pmod(col("user_id"), lit(100)).as("Num2")
              )
            ).cast("binary")
          ).as("data"),
          col("user_id").cast("string").as("partitionKey"),
          col("event_id").cast("string").as("sequenceNumber")
        ).as("kinesis"),
        lit("aws:kinesis").as("eventSource"),
        lit("aws:kinesis:record").as("eventName")
      ).as("r")
    )
    // one event JSON per batch; sort_array on (event_id, r) fixes the
    // record order (collect_list alone is partition-order-dependent)
    val events = rec
      .groupBy("batch_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("r")))).as("rs"))
      .select(
        col("batch_id"),
        to_json(struct(expr("transform(rs, x -> x.r)").as("Records"))).as("event_json")
      )
    // consumer: nested-schema decode, record explode, payload decode
    val recordSchema = StructType(
      Seq(
        StructField(
          "kinesis",
          StructType(
            Seq(
              StructField("data", StringType),
              StructField("partitionKey", StringType),
              StructField("sequenceNumber", StringType)
            )
          )
        ),
        StructField("eventSource", StringType),
        StructField("eventName", StringType)
      )
    )
    val eventSchema = StructType(Seq(StructField("Records", ArrayType(recordSchema))))
    events
      .select(
        col("batch_id"),
        explode(from_json(col("event_json"), eventSchema).getField("Records")).as("rec")
      )
      .select(
        col("batch_id"),
        col("rec.kinesis.sequenceNumber").cast("long").as("event_id"),
        col("rec.kinesis.partitionKey").as("partition_key"),
        from_json(unbase64(col("rec.kinesis.data")).cast("string"), payloadSchema).as("p")
      )
      .select(
        col("batch_id"),
        col("event_id"),
        col("partition_key"),
        col("p.Num1").as("num1"),
        col("p.Num2").as("num2"),
        (col("p.Num1") + col("p.Num2")).as("num_sum")
      )
      .orderBy("event_id")
  }

  /** A3: Kinesis-envelope round trip — build the base64(JSON) record
    * the way a producer would (kinesis_stream/main.go:28-37), then
    * decode it the way the lambda does (adder-labma/types.go:3-19,
    * adder.go:38-44): unbase64 → from_json → typed fields.
    */
  def kinesisDecode(t: Tables): DataFrame = {
    val enveloped = t.events.select(
      col("event_id"),
      col("user_id").cast("string").as("partition_key"),
      base64(
        to_json(
          struct(
            pmod(col("event_id"), lit(100)).as("Num1"),
            pmod(col("user_id"), lit(100)).as("Num2")
          )
        ).cast("binary")
      ).as("data")
    )
    enveloped
      .select(
        col("event_id"),
        col("partition_key"),
        from_json(unbase64(col("data")).cast("string"), payloadSchema).as("p")
      )
      .select(
        col("event_id"),
        col("partition_key"),
        col("p.Num1").as("num1"),
        col("p.Num2").as("num2"),
        (col("p.Num1") + col("p.Num2")).as("num_sum")
      )
      .orderBy("event_id")
  }
}

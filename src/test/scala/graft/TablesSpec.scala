package graft

import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("events: TIMESTAMP(NANOS) ts reads as exact micros without touching the caller's conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(key) == "false")
    // 3 rows written by pyarrow (`pa.timestamp("ns")`, parquet format
    // 2.6) as TIMESTAMP(NANOS); the sub-micro digits must truncate, never
    // round through a double
    val dir = getClass.getResource("/nanos_events").getPath
    val nanos = Seq(1704067798778549123L, 1704068166738090999L, 1704068217102229001L)
    def micros(): Seq[Long] = Tables.events(spark, dir)
      .orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
    assert(micros() == nanos.map(_ / 1000))
    assert(micros() == nanos.map(_ / 1000)) // the cached-schema read
    assert(spark.conf.get(key) == "false")
  }
}

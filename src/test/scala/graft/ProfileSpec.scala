package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Profile's records carry the engine's own telemetry for batch and
  * streaming cells alike.
  */
class ProfileSpec extends SparkSpec {

  test("Profile prints a cold and a warm JSON record per query") {
    val names = Seq("agg_hash_groupby", "stream_tumbling_count")
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    Profile.run(spark, sf, names)(lines += _)
    val recs = lines.toSeq.map(new ObjectMapper().readTree(_))
    assert(recs.map(r => (r.get("query").asText, r.get("pass").asText)) ==
      names.flatMap(n => Seq(n -> "cold", n -> "warm")))
    recs.foreach { r =>
      val q = r.get("query").asText
      assert(r.get("materialize_s").asDouble > 0, q)
      assert(r.get("construct_s").asDouble >= 0, q)
      assert(r.get("plan").asText.contains("isFinalPlan=true"), q)
      assert(r.get("phases_ms").has("planning"), q)
      assert(r.get("stage").has("max_task_ms"), q)
      assert(r.get("forks").isInt && r.get("forks").asInt >= 0, q)
    }
    val (batch, stream) = recs.partition(_.get("query").asText == "agg_hash_groupby")
    batch.foreach(r => assert(r.get("batches").size == 0))
    stream.foreach { r =>
      assert(r.get("batches").size >= 1)
      assert(r.get("batches").get(0).has("durationMs"))
    }
  }
}

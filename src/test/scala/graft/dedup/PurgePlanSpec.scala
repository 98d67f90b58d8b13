package graft.dedup

import graft.{QueryRegistry, SparkSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the purge-plan invariants for ALL FOUR modality cluster
  * chains (text, image, audio, video): exactly one keep per cluster
  * (the representative, doc_id == cluster label), keep + purge rows =
  * exactly the cluster members, and the shard routing matches the
  * tx_shards salted-md5 key recomputed independently on the driver.
  * The corpus identity (members + untouched singletons = corpus) is
  * asserted on the text modality, whose corpus is [[DedupQueries
  * .dupCorpus]].
  */
class PurgePlanSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  private def clustersOf(queryName: String, idCol: String): DataFrame =
    QueryRegistry.byName(queryName).run(spark, dir)
      .select(col(idCol).as("doc_id"), col("cluster"))

  private def checkInvariants(modality: String, clusters: DataFrame): Unit = {
    val plan = DedupQueries.purgePlan(clusters).cache()
    val members = clusters.count()
    assert(plan.count() == members,
      s"$modality: plan rows != cluster members")
    // exactly one keep per cluster, and it IS the representative
    val perCluster = plan.groupBy(col("cluster"))
      .agg(sum(when(col("action") === "keep", 1).otherwise(0)).as("keeps"),
        count(lit(1)).as("n"))
      .collect()
    assert(perCluster.nonEmpty, s"$modality: no clusters found")
    perCluster.foreach { r =>
      assert(r.getAs[Long]("keeps") == 1L,
        s"$modality: cluster ${r.get(0)} has ${r.getAs[Long]("keeps")} keeps")
    }
    val badKeep = plan
      .filter(col("action") === "keep" && col("doc_id") =!= col("cluster"))
      .count()
    assert(badKeep == 0, s"$modality: a keep row is not the representative")
    // actions are exclusive and exhaustive
    assert(plan.filter(!col("action").isin("keep", "purge")).count() == 0)
    // shard routing = the tx_shards key, recomputed independently
    val md = java.security.MessageDigest.getInstance("MD5")
    plan.select(col("doc_id"), col("shard")).limit(20).collect().foreach { r =>
      val id = r.getLong(0)
      val hex = md.digest(s"shard1:$id".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val want = java.lang.Long.parseLong(hex, 16) % 16
      assert(r.getLong(1) == want,
        s"$modality: doc $id routed to ${r.getLong(1)}, tx_shards says $want")
    }
    plan.unpersist()
  }

  test("text modality: invariants plus the corpus identity") {
    val clusters = clustersOf("dd_dup_clusters", "doc_id")
    checkInvariants("text", clusters)
    // corpus identity: every purge-plan row targets a real corpus
    // document (a broken cluster chain emitting phantom ids would slip
    // past the count algebra), and keeps + purges = cluster members
    val corpusDf = DedupQueries.dupCorpus(graft.Tables(spark, dir))
      .select(col("doc_id"))
    val plan = DedupQueries.purgePlan(clusters)
    val phantom = plan.join(corpusDf, Seq("doc_id"), "left_anti").count()
    assert(phantom == 0, s"$phantom purge-plan rows target non-corpus ids")
    val purges = plan.filter(col("action") === "purge").count()
    val keeps = plan.filter(col("action") === "keep").count()
    assert(keeps + purges == clusters.count())
    // applying the plan keeps ≥ 1 member (the representative) of every
    // cluster: no cluster may be purged to extinction
    val extinct = plan.groupBy(col("cluster"))
      .agg(sum(when(col("action") === "keep", 1).otherwise(0)).as("kept"))
      .filter(col("kept") === 0).count()
    assert(extinct == 0, "a cluster lost all members to the purge list")
  }

  test("image, audio, and video cluster chains satisfy the same invariants") {
    Seq("dd_image_clusters" -> "media_id",
      "dd_audio_clusters" -> "media_id",
      "dd_video_clusters" -> "media_id").foreach { case (q, idCol) =>
      checkInvariants(q.split("_")(1), clustersOf(q, idCol))
    }
  }

  test("dd_image_purge IS purgePlan over the shared image cluster frame") {
    // the registry row must be the generic emitter applied to the same
    // clusters dd_image_clusters reports — byte-identical rows, so the
    // oracle-gated image purge can never drift from the spec-checked
    // emitter invariants above
    val row = QueryRegistry.byName("dd_image_purge").run(spark, dir)
      .withColumnRenamed("media_id", "doc_id")
    val emitter = DedupQueries
      .purgePlan(clustersOf("dd_image_clusters", "media_id"))
    assert(row.exceptAll(emitter).count() == 0 &&
      emitter.exceptAll(row).count() == 0,
      "dd_image_purge diverges from purgePlan(clusterFrame(Image))")
  }
}

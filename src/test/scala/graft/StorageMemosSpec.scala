package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import graft.ops.StorageMemos

class StorageMemosSpec extends SparkSpec {
  import spark.implicits._

  // distinct plans per call so cache-manager entries never collide
  private def df(tag: Int): DataFrame = (1 to 50).toDF("v").select(($"v" * tag).as("x"))

  /** The id of the localCheckpoint RDD a checkpointed frame reads. */
  private def checkpointId(d: DataFrame): Int =
    d.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  test("a repeat get returns the same instance and builds once") {
    var builds = 0
    def look() = StorageMemos.get[Object]("spec.repeat", 1) { builds += 1; new Object }
    val first = look()
    assert(look() eq first)
    assert(builds == 1)
  }

  test("a changed fingerprint rebuilds once and releases the old frames") {
    var builds = 0
    def look(fp: String) = StorageMemos.get("spec.fingerprint", 1, fingerprint = fp,
        frames = (d: DataFrame) => Seq(d)) { builds += 1; df(100 + builds).persist() }
    val old = look("a")
    old.count()
    assert(old.storageLevel != StorageLevel.NONE)
    val fresh = look("b")
    assert(look("b") eq fresh)
    assert(builds == 2)
    assert(old.storageLevel == StorageLevel.NONE, "the stale entry's frame must be released")
    assert(fresh.storageLevel != StorageLevel.NONE)
  }

  test("a third storage-holding key evicts the least recently used entry and its checkpoint") {
    def look(k: Int) = StorageMemos.get("spec.evict", k,
        frames = (d: DataFrame) => Seq(d))(df(200 + k).localCheckpoint())
    val (a, b) = (look(1), look(2))
    assert(look(1) eq a) // key 2 is now the least recently used
    look(3)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(!live.contains(checkpointId(b)), "the evicted checkpoint RDD must be unpersisted")
    assert(live.contains(checkpointId(a)))
    assert(look(1) eq a)
    assert(!(look(2) eq b), "an evicted key rebuilds")
  }

  test("invalidateAll releases storage entries and keeps frame-less ones") {
    var models = 0
    def model() = StorageMemos.get[Seq[Int]]("spec.model", 1) { models += 1; Seq(1, 2, 3) }
    val held = StorageMemos.get("spec.held", 1,
      frames = (d: DataFrame) => Seq(d))(df(300).localCheckpoint())
    val m = model()
    StorageMemos.invalidateAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(checkpointId(held)))
    assert(model() eq m)
    assert(models == 1, "a frame-less entry must survive the clear without rebuilding")
    val rebuilt = StorageMemos.get("spec.held", 1,
      frames = (d: DataFrame) => Seq(d))(df(301).localCheckpoint())
    assert(!(rebuilt eq held))
  }

  test("a throwing build stores nothing, and the next get builds") {
    intercept[IllegalStateException] {
      StorageMemos.get[String]("spec.throw", 1)(throw new IllegalStateException("boom"))
    }
    var builds = 0
    assert(StorageMemos.get[String]("spec.throw", 1) { builds += 1; "ok" } == "ok")
    assert(builds == 1)
  }

  test("a build may get another name") {
    val v = StorageMemos.get[String]("spec.outer", 1) {
      StorageMemos.get[String]("spec.inner", 1)("inner") + "+outer"
    }
    assert(v == "inner+outer")
    assert(StorageMemos.get[String]("spec.inner", 1)(fail("inner must be stored")) == "inner")
  }
}

package graft

import graft.model.Elem
import graft.operators.{Kernels, StdKernels}

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("profile captures stages, tasks, and shuffle volume of a stateful job") {
    val df = (for (s <- 0 until 4; i <- 0 until 1000)
      yield Elem(s.toLong, i.toLong, Array[Byte](1))).toDF()
    val (count, prof) = Profiler.profile(spark) {
      Kernels.unboundedState(df, StdKernels.TestIncrement).count()
    }
    assert(count == 4000L)
    assert(prof.numStages >= 2)             // map + reduce of the one shuffle
    assert(prof.stages.map(_.numTasks).sum > 0)
    assert(prof.totalShuffleWrite > 0)      // the groupByKey exchange
    assert(prof.totalShuffleRead > 0)
    assert(prof.render.nonEmpty)
  }

  test("halo stencil shuffles a FRACTION of the explode plan's bytes (the design claim, pinned)") {
    import org.apache.spark.sql.functions._
    import graft.operators.SequenceOps
    // a realistic (fat) payload: the explode plan's shuffle carries every
    // payload |offsets| times (map-side combine collapses rows but keeps
    // one payload column PER SLOT), while halo ships each payload once —
    // with skinny 8-byte payloads the two nearly tie, so the pin uses the
    // shape the operator exists for
    val n = 100000L
    def base = spark.range(0, n, 1, 8).select(
      (col("id") % 4).as("streamId"), expr("id div 4").as("index"),
      encode(concat(lpad(col("id").cast("string"), 96, "x")), "UTF-8").as("v"))
    def shuffled(df: org.apache.spark.sql.DataFrame): Long = {
      val (_, p) = Profiler.profile(spark) {
        df.write.format("noop").mode("overwrite").save()
      }
      p.totalShuffleWrite
    }
    val offs    = (-3 to 3).toSeq // width 7
    val halo    = shuffled(SequenceOps.stencilHalo(base, offs, "v", bucketWidth = 4096))
    val explode = shuffled(SequenceOps.stencilExplode(base, offs, "v"))
    assert(halo > 0 && explode > 0, "both plans must actually shuffle")
    assert(halo * 2 < explode,
      s"halo must shuffle well under half the explode plan's bytes (halo=$halo explode=$explode)")
  }

  test("profile isolates the block: nothing recorded for an empty body") {
    val (_, prof) = Profiler.profile(spark) { () }
    assert(prof.numStages == 0)
    assert(prof.jobs == 0)
  }

  test("profile counts the block's jobs and codegen compiles; a re-run compiles nothing") {
    import org.apache.spark.sql.functions._
    // an integer literal is inlined into the generated code, so a modulus
    // no earlier query used makes the first run compile new classes
    val m = 1000 + (System.nanoTime() & 0xfffff)
    def body(): Unit = {
      spark.range(0, 5000, 1, 4).select((col("id") % m).as("k"), col("id"))
        .groupBy("k").agg(sum("id"), countDistinct("id")).collect()
      spark.range(0, 100).filter(col("id") % 7 === 3).count()
    }
    val (_, first) = Profiler.profile(spark)(body())
    val (_, again) = Profiler.profile(spark)(body())
    assert(first.jobs > 0 && again.jobs == first.jobs)
    assert(first.codegenCompiles > 0, "a never-seen query must compile")
    assert(again.codegenCompiles == 0L,
      s"an identical re-run compiled ${again.codegenCompiles} generated classes")
    assert(jobsStarted(body()) == again.jobs)
    assert(again.render.contains(s"jobs=${again.jobs} ") &&
      again.render.contains("codegenCompiles=0"))
  }

  test("per-op attribution: library-internal rounds separate from the final action") {
    import org.apache.spark.sql.functions._
    // connectedComponents runs its rounds as attributed(cc-round) jobs;
    // the caller's own aggregate is the (final) action. Both buckets must
    // show up, covering ALL profiled task time between them.
    val nodes = spark.range(0, 512).toDF("id")
    val chain = spark.range(0, 511).select(col("id").as("a"), (col("id") + 1).as("b"))
    val (n, prof) = Profiler.profile(spark) {
      graft.functions.Dedup.connectedComponents(nodes, chain, "id")
        .agg(countDistinct(col("cluster"))).head.getLong(0)
    }
    CacheScope.release()
    assert(n == 1L)
    assert(prof.byOp.contains("graft:cc-round"),
      s"expected cc-round bucket in ${prof.byOp.keySet}")
    assert(prof.byOp.contains("(final)"),
      s"expected the caller's own action bucket in ${prof.byOp.keySet}")
    assert(prof.byOp.values.sum == prof.totalTaskTimeMs,
      "attribution buckets must partition the total task time")
  }

  test("writeTrace emits valid chrome trace-event JSON with per-op rows") {
    import org.apache.spark.sql.functions._
    val (_, prof) = Profiler.profile(spark) {
      Profiler.attributed(spark, "warm") {
        spark.range(0, 10000).select((col("id") % 7).as("k"))
          .groupBy("k").count().collect()
      }
      spark.range(0, 1000).count()
    }
    val path = java.nio.file.Files.createTempFile("graft-trace", ".json").toString
    Profiler.writeTrace(prof, path)
    // valid JSON: parse it back through Spark's JSON reader (array of events)
    val events = spark.read.option("multiLine", true).json(path)
    assert(events.count() > 0)
    val cols = events.columns.toSet
    assert(Set("name", "ph", "pid", "tid").subsetOf(cols), cols.toString)
    val metas = events.filter(col("ph") === "M").count()
    assert(metas >= 2, "one thread_name meta event per op row (warm + final)")
    val spans = events.filter(col("ph") === "X")
    assert(spans.count() > 0)
    import spark.implicits._
    val durs = spans.select(col("dur").cast("long")).as[Long].collect()
    assert(durs.forall(_ >= 1000L), "durations are microseconds (>= 1ms floor)")
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
  }

  test("attributed restores the caller's job description") {
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "outer")
    try {
      Profiler.attributed(spark, "inner") {
        assert(sc.getLocalProperty("spark.job.description") == "graft:inner")
      }
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setLocalProperty("spark.job.description", null)
  }
}

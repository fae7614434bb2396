package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.Elem
import graft.operators.Placement
import graft.operators.Placement.{Device, Registry}

/** Device placement parity (`scanner/engine/dag_analysis.cpp:262-269`
  * validation; `metadata.proto:25-28` DeviceType): fail-fast
  * kernel-for-device validation, CPU identity, and the GPU
  * ResourceProfile contents stage-level scheduling would ship to a
  * cluster manager.
  */
class PlacementSpec extends SparkSpec {

  private val elemEnc = org.apache.spark.sql.Encoders.product[Elem]

  private def elems(n: Int) = spark.createDataset(
    (0 until n).map(i => Elem(0L, i.toLong, s"e$i".getBytes(UTF_8))))(elemEnc)

  private val registry = new Registry()
    .register("histogram", Set[Device](Device.CPU, Device.GPU))
    .register("blur", Set[Device](Device.CPU))

  test("validation fails fast listing every kernel without a device variant") {
    val e = intercept[Placement.ValidationException] {
      registry.validate(Seq("blur" -> Device.GPU, "flow" -> Device.GPU,
        "histogram" -> Device.GPU))
    }
    assert(e.getMessage.contains("no kernel for op blur"))
    assert(e.getMessage.contains("op flow is not registered"))
    assert(!e.getMessage.contains("histogram"))
  }

  test("CPU placement is the identity — no profile, no extra boundary") {
    val ds     = elems(8)
    val placed = Placement.place(ds, "histogram", registry, Device.CPU)
    assert(placed eq ds)
    assert(placed.collect().length === 8)
  }

  test("gpu ResourceProfile carries the task and executor gpu requests") {
    val rp = Placement.gpuProfile(gpusPerTask = 0.5, gpusPerExecutor = 2)
    assert(rp.taskResources("gpu").amount === 0.5)
    assert(rp.executorResources("gpu").amount === 2L)
  }

  test("GPU placement on a pool that cannot schedule GPU stages is refused fail-fast") {
    // local[n] has no stage-level scheduling — Spark refuses the profile at
    // attach time and Placement surfaces it as the reference's
    // kernel-on-wrong-pool placement error (dag_analysis.cpp:262-269)
    val e = intercept[Placement.ValidationException] {
      Placement.place(elems(8), "histogram", registry, Device.GPU)
    }
    assert(e.getMessage.contains("cannot schedule GPU stages"), e.getMessage)
    assert(e.getMessage.contains("histogram"), e.getMessage)
  }

  test("GPU placement of a CPU-only kernel is refused before any job runs") {
    intercept[Placement.ValidationException] {
      Placement.place(elems(8), "blur", registry, Device.GPU)
    }
  }

  test("a GPU-placed stage is actually SCHEDULED onto a (stub-discovered) gpu slot") {
    // end-to-end execution, not refusal: forks graft.tools.GpuProbe in its
    // own JVM (two SparkContexts can't share this one) — a local-cluster
    // worker "discovers" a fake GPU via a stub discovery script, the
    // Device.GPU placement (task-only profile, SPARK-39853 static path)
    // runs as a real stage whose tasks hold the gpu address in
    // TaskContext.resources(), and an unplaced control stage does not.
    // The probe self-asserts; this test checks its verdict line + exit 0.
    val r = ForkedJvm.run("graft.tools.GpuProbe", timeoutSeconds = 240,
      env = Map("SPARK_SCALA_VERSION" -> "2.13"))
    assert(r.exited, "GpuProbe did not finish within 240 s:\n" + r.tail)
    assert(r.exitCode === 0, s"GpuProbe exited ${r.exitCode}:\n" + r.tail)
    assert(r.output.contains("GPU-PROBE OK placed=8 unplaced=8 addr=0"), r.output.take(4000))
  }
}

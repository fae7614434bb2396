package graft.sources

/** Runtime seam for the Vector-API decode kernels
  * ([[graft.simd.VectorKernels]]): `enabled` is true only when the JVM
  * loaded the jdk.incubator.vector module (the probe class-load fails
  * otherwise) AND the probe's arithmetic self-check passed AND
  * [[disabled]] is unset (the parity spec and `tools/SimdAb` toggle it).
  * Every SIMD call site keeps its scalar twin — the reference path,
  * bit-identical by construction and pinned by H264SimdParitySpec.
  */
private[graft] object Simd {
  private val probeOk: Boolean =
    try graft.simd.VectorKernels.probe()
    catch { case t: Throwable =>
      System.err.println(s"[graft] SIMD kernels unavailable (scalar fallback): $t")
      false
    }
  /** forces the scalar twins; volatile so a spec can flip it mid-JVM */
  @volatile private[graft] var disabled: Boolean = false
  @inline def enabled: Boolean = probeOk && !disabled
}

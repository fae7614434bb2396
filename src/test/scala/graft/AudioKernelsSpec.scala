package graft

import graft.operators.AudioKernels

/** Deterministic-value pins for the audio kernels (the modality's analog
  * of KernelsSpec's histogram/resize pins).
  */
class AudioKernelsSpec extends SparkSpec {
  import spark.implicits._

  test("synthetic chunk is deterministic and PCM16-sized") {
    val a = AudioKernels.syntheticChunk(1L, 2L)
    val b = AudioKernels.syntheticChunk(1L, 2L)
    assert(a.pcm.length == 1600 * 2)
    assert(java.util.Arrays.equals(a.pcm, b.pcm))
    val other = AudioKernels.syntheticChunk(1L, 3L)
    assert(!java.util.Arrays.equals(a.pcm, other.pcm))
  }

  test("stats are exact integer math") {
    val c = AudioKernels.syntheticChunk(0L, 0L, samplesPerChunk = 8)
    // period = 50, phase i%50 over 8 samples: tri = |2i-50|-25
    val expected = (0 until 8).map(i => (math.abs(i * 2 - 50) - 25) * 300)
    val got = {
      val bb = java.nio.ByteBuffer.wrap(c.pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq.fill(8)(bb.getShort.toInt)
    }
    assert(got == expected)
    assert(AudioKernels.peak(c) == expected.map(math.abs).max)
    assert(AudioKernels.sumSquares(c) == expected.map(v => v.toLong * v).sum)
  }

  test("downsample keeps every n-th sample and scales the rate") {
    val c = AudioKernels.syntheticChunk(0L, 1L)
    val d = AudioKernels.downsample(c, 4)
    assert(d.pcm.length == c.pcm.length / 4)
    assert(d.sampleRate == c.sampleRate / 4)
    val orig = java.nio.ByteBuffer.wrap(c.pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val down = java.nio.ByteBuffer.wrap(d.pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 10).foreach { k =>
      assert(down.getShort(k * 2) == orig.getShort(k * 8))
    }
  }

  test("downsample keeps whole frames of interleaved multi-channel audio") {
    val c = AudioKernels.syntheticChunk(2L, 3L, channels = 2, samplesPerChunk = 100)
    val d = AudioKernels.downsample(c, 5)
    // 100 frames x 2ch -> 20 frames x 2ch; both channels of each kept instant
    assert(d.pcm.length == 20 * 2 * 2)
    val orig = java.nio.ByteBuffer.wrap(c.pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val down = java.nio.ByteBuffer.wrap(d.pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 5).foreach { f =>
      assert(down.getShort(f * 4) == orig.getShort(f * 20))          // left
      assert(down.getShort(f * 4 + 2) == orig.getShort(f * 20 + 2))  // right
    }
  }

  test("energy fingerprint is stable and 8-bit banded") {
    val c  = AudioKernels.syntheticChunk(3L, 7L)
    val fp = AudioKernels.energyFingerprint(c)
    assert(fp == AudioKernels.energyFingerprint(c))
    assert((fp & ~0xffL) == 0L) // only 8 band bits
  }

  test("audio chunks persist through NamedStorage like any element stream") {
    import graft.sources.NamedStorage
    val root = tempDir("graft-audio").toString
    val ds = (0 until 10).map(i => AudioKernels.syntheticChunk(1L, i.toLong)).toDS()
    val d  = NamedStorage.write(ds.toDF(), root, "pcm")
    assert(d.committed && d.rows == 10L)
    val back = NamedStorage.read(spark, root, "pcm")
      .as[AudioKernels.AudioChunk].collect().sortBy(_.index)
    assert(back.length == 10)
    back.foreach { c =>
      val expect = AudioKernels.syntheticChunk(1L, c.index)
      assert(c.sampleRate == expect.sampleRate && c.channels == expect.channels)
      assert(java.util.Arrays.equals(c.pcm, expect.pcm))
    }
  }

  test("audio chunks run distributed through the kernel ops") {
    val ds  = (0 until 20).map(i => AudioKernels.syntheticChunk(0L, i.toLong)).toDS()
    val out = AudioKernels.statsOp(ds).collect().sortBy(_._2)
    assert(out.length == 20)
    assert(out.map(_._2).toSeq == (0L until 20L))
    // values match local computation (distributed == sequential)
    out.foreach { case (_, idx, pk, ss, zc) =>
      val c = AudioKernels.syntheticChunk(0L, idx)
      assert(pk == AudioKernels.peak(c) && ss == AudioKernels.sumSquares(c) &&
        zc == AudioKernels.zeroCrossings(c))
    }
  }

  test("energyFingerprint is gain-invariant (mean-relative band ranks) and chunk-sensitive") {
    val c = AudioKernels.syntheticChunk(2L, 11L)
    val louder = AudioKernels.gain(c, 5, 4)
    assert(AudioKernels.energyFingerprint(c) == AudioKernels.energyFingerprint(louder),
      "a uniform volume change must not move band energies across the mean")
    val other = AudioKernels.syntheticChunk(2L, 12L)
    assert(AudioKernels.energyFingerprint(c) != AudioKernels.energyFingerprint(other),
      "different chunks should not share a fingerprint (for this fixture)")
    // clamping path: extreme gain saturates without throwing (peak is
    // |sample|, so a clamped Short.MinValue reads 32768)
    val sat = AudioKernels.gain(c, 1000, 1)
    assert(AudioKernels.peak(sat) == 32768)
  }

  test("vadSegments: strict-median activity collapses to maximal runs (hand-computed)") {
    import spark.implicits._
    // stream 0 energies [0,10,20,0,30,40] at idx 0..5: median 15 ->
    // active {2, 4, 5} -> runs [2,2] and [4,5]. stream 1 all-equal
    // energies: nothing is STRICTLY above the median -> no segments.
    val stats = Seq(
      (0L, 0L, 0L), (0L, 1L, 10L), (0L, 2L, 20L),
      (0L, 3L, 0L), (0L, 4L, 30L), (0L, 5L, 40L),
      (1L, 0L, 7L), (1L, 1L, 7L), (1L, 2L, 7L)
    ).toDF("streamId", "index", "e")
    val got = graft.operators.AudioKernels.vadSegments(stats, "e")
      .orderBy("streamId", "seg_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((0L, 2L, 2L, 1L), (0L, 4L, 5L, 2L)))
  }

  test("fft matches the naive DFT and satisfies Parseval") {
    val n = 32
    // deterministic pseudo-random signal (LCG)
    var seed = 12345L
    val x = Array.fill(n) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33).toInt % 1000) / 1000.0
    }
    val re = x.clone(); val im = new Array[Double](n)
    AudioKernels.fft(re, im)
    // naive DFT reference
    for (k <- 0 until n) {
      var dr = 0.0; var di = 0.0
      for (t <- 0 until n) {
        val ang = -2.0 * math.Pi * k * t / n
        dr += x(t) * math.cos(ang); di += x(t) * math.sin(ang)
      }
      assert(math.abs(re(k) - dr) < 1e-9 && math.abs(im(k) - di) < 1e-9,
        s"bin $k: got (${re(k)},${im(k)}) want ($dr,$di)")
    }
    val time = x.map(v => v * v).sum
    val freq = (0 until n).map(k => re(k) * re(k) + im(k) * im(k)).sum / n
    assert(math.abs(time - freq) < 1e-9)
  }

  test("fft basis vectors: DC concentrates in bin 0, impulse is flat") {
    val dcR = Array.fill(8)(1.0); val dcI = new Array[Double](8)
    AudioKernels.fft(dcR, dcI)
    assert(math.abs(dcR(0) - 8.0) < 1e-12)
    assert((1 until 8).forall(k => math.abs(dcR(k)) < 1e-12 && math.abs(dcI(k)) < 1e-12))
    val impR = Array.tabulate(8)(i => if (i == 0) 1.0 else 0.0)
    val impI = new Array[Double](8)
    AudioKernels.fft(impR, impI)
    assert((0 until 8).forall(k => math.abs(impR(k) - 1.0) < 1e-12))
  }

  test("mel filterbank: every filter non-empty, weights in (0,1], centers ascend") {
    val bank = AudioKernels.melFilterbank(26, 512, 16000)
    assert(bank.length == 26)
    assert(bank.forall(_.nonEmpty))
    assert(bank.forall(_.forall { case (_, w) => w > 0 && w <= 1.0 }))
    val firstBins = bank.map(_.head._1)
    assert(firstBins.zip(firstBins.tail).forall { case (a, b) => a <= b })
  }

  test("spectral centroid tracks a pure tone's frequency") {
    // 2 kHz sine at 16 kHz in one 512-sample chunk
    val sr = 16000
    val bb = java.nio.ByteBuffer.allocate(512 * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 512).foreach(i =>
      bb.putShort((math.sin(2 * math.Pi * 2000.0 * i / sr) * 20000).toShort))
    val c = AudioKernels.AudioChunk(0L, 0L, sr, 1, bb.array())
    val (centroid, bandwidth, rolloff, flatness) = AudioKernels.spectralFeatures(c)
    assert(math.abs(centroid - 2000.0) < 150.0, s"centroid $centroid")
    assert(rolloff >= 1800 && rolloff <= 2300, s"rolloff $rolloff")
    assert(bandwidth < 800.0, s"bandwidth $bandwidth")
    assert(flatness < 0.05, s"tone must be spectrally peaked, got $flatness")
  }

  test("mfcc: shape, determinism, and energy sensitivity in c0") {
    val c = AudioKernels.syntheticChunk(1L, 3L)
    val m1 = AudioKernels.mfcc(c)
    val m2 = AudioKernels.mfcc(c)
    assert(m1.length == (1600 + 255) / 256) // ceil(samples/hop) frames
    assert(m1.forall(_.length == 13))
    assert(m1.zip(m2).forall { case (a, b) => a.sameElements(b) })
    // louder signal -> larger log-energy c0
    val loud = AudioKernels.gain(c, 4, 1)
    val mLoud = AudioKernels.mfcc(loud)
    assert(mLoud.head(0) > m1.head(0))
  }
}

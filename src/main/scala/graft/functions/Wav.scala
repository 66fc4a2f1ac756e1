package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.functions.udf

/** WAV header parsing (reference: src/main.rs:760-769, via the `hound` crate).
  *
  * Semantics mirrored exactly: for a readable PCM RIFF/WAVE file,
  * `duration = frames / sample_rate` and `sampling_rate` is the header rate;
  * for non-WAV or corrupt bytes the result is `(0.0, 0)` — bad audio rows are
  * kept, not dropped.
  *
  * This is a header-only parse (reads the fmt/data chunk headers, never the
  * samples), so it is cheap even on multi-MB files and safe to run inside a
  * scan task at 100 TB scale.
  */
object Wav {
  final case class WavInfo(duration: Double, sampling_rate: Int)

  def parse(bytes: Array[Byte]): WavInfo =
    layout(bytes).fold(WavInfo(0.0, 0))(l => WavInfo((l.dataLen / l.blockAlign).toDouble / l.sampleRate, l.sampleRate))

  /** `wav_parse(bytes) -> struct<duration double, sampling_rate int>`. */
  val parseUdf = udf((b: Array[Byte]) => parse(b))

  /** What one walk of a RIFF/WAVE file's chunks finds: the fmt fields and
    * the data chunk's offset and length, which a truncated chunk cuts to
    * the bytes present (hound reports the frames present). */
  private final case class Layout(
      audioFormat: Int, sampleRate: Int, blockAlign: Int, bits: Int, dataOff: Int, dataLen: Long)

  /** The [[Layout]] of a WAV file, or None for non-WAV or corrupt bytes, a
    * missing fmt or data chunk, a chunk over 2 GiB, or a zero rate or
    * block align. Chunks may come in any order, and are 2-aligned. */
  private def layout(bytes: Array[Byte]): Option[Layout] = {
    try {
      if (bytes == null || bytes.length < 44) return None
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(0) != 0x46464952 /* "RIFF" LE */ ||
          bb.getInt(8) != 0x45564157 /* "WAVE" LE */ ) return None
      var pos = 12
      var audioFormat = 0
      var sampleRate = 0
      var blockAlign = 0
      var bits = 0
      var dataOff = -1
      var dataLen = 0L
      var haveFmt = false
      while (pos + 8 <= bytes.length && (dataOff < 0 || !haveFmt)) {
        val chunkId = bb.getInt(pos)
        val chunkSize = bb.getInt(pos + 4).toLong & 0xffffffffL
        if (chunkId == 0x20746d66 /* "fmt " */ && pos + 24 <= bytes.length) {
          audioFormat = bb.getShort(pos + 8) & 0xffff
          sampleRate = bb.getInt(pos + 12)
          blockAlign = bb.getShort(pos + 20) & 0xffff
          bits = bb.getShort(pos + 22) & 0xffff
          haveFmt = true
        } else if (chunkId == 0x61746164 /* "data" */) {
          dataOff = pos + 8
          dataLen = math.min(chunkSize, math.max(0L, bytes.length.toLong - (pos + 8)))
        }
        if (chunkSize > Int.MaxValue) return None
        pos += 8 + chunkSize.toInt + (chunkSize.toInt & 1)
      }
      if (!haveFmt || dataOff < 0 || sampleRate <= 0 || blockAlign <= 0) None
      else Some(Layout(audioFormat, sampleRate, blockAlign, bits, dataOff, dataLen))
    } catch { case _: Throwable => None }
  }

  /** PCM16 WAV payload layout: (dataOff, nSamples, sampleRate, blockAlign),
    * or None for non-WAV / non-PCM16 / corrupt bytes. */
  private def pcm16Layout(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] =
    layout(bytes).collect { case l if l.audioFormat == 1 && l.bits == 16 =>
      (l.dataOff, (l.dataLen / 2).toInt, l.sampleRate, l.blockAlign)
    }

  /** Summed |sample| of frame `f`, `frameSize` PCM16 samples, of the data at `dataOff`. */
  private def frameSum(bb: ByteBuffer, dataOff: Int, f: Int, frameSize: Int): Long = {
    var sum = 0L
    var i = 0
    while (i < frameSize) {
      sum += math.abs(bb.getShort(dataOff + 2 * (f * frameSize + i)).toInt)
      i += 1
    }
    sum
  }

  /** REAL sample decode for 16-bit PCM WAV: RMS over the int16 samples, plus
    * header info — `(rms, sampling_rate, duration)`. `None` for non-WAV,
    * non-PCM16, or corrupt bytes (callers fall back to a byte-level stat).
    * Unlike [[parse]] this reads the payload, so it costs O(data bytes) —
    * exactly what a feature-extraction kernel is expected to do.
    */
  def pcm16Rms(bytes: Array[Byte]): Option[(Double, Int, Double)] =
    pcm16Layout(bytes).map { case (dataOff, nSamples, sampleRate, blockAlign) =>
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      var sq = 0.0
      var i = 0
      while (i < nSamples) {
        val v = bb.getShort(dataOff + 2 * i).toDouble
        sq += v * v
        i += 1
      }
      val rms = if (nSamples == 0) 0.0 else math.sqrt(sq / nSamples)
      (rms, sampleRate, (2L * nSamples / blockAlign).toDouble / sampleRate)
    }

  /** Frame-energy stats over full `frameSize`-sample frames of a PCM16 WAV:
    * `(n_frames, n_silent, total_abs)` where a frame is silent when its
    * summed |sample| is below `frameSize · perSampleThreshold`. Integer
    * arithmetic throughout — exact, so an SQL oracle can recompute it.
    * The silence/energy segmentation shape of audio feature extraction. */
  def pcm16FrameStats(
      bytes: Array[Byte],
      frameSize: Int = 16,
      perSampleThreshold: Int = 16384): (Int, Int, Long) =
    pcm16Layout(bytes) match {
      case None => (0, 0, 0L)
      case Some((dataOff, nSamples, _, _)) =>
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val nFrames = nSamples / frameSize
        val thresh = frameSize.toLong * perSampleThreshold
        var silent = 0
        var total = 0L
        var f = 0
        while (f < nFrames) {
          val sum = frameSum(bb, dataOff, f, frameSize)
          if (sum < thresh) silent += 1
          total += sum
          f += 1
        }
        (nFrames, silent, total)
    }

  val frameStatsUdf = udf((b: Array[Byte]) => pcm16FrameStats(b))

  /** Nearest-index resample of a PCM16 WAV to `targetRate`: output sample i
    * = source sample floor(i·sr/target), n_out = floor(n·target/sr) — the
    * sample-rate-normalization step every speech-training pipeline runs
    * before featurization. Pure integer index math (no interpolation), so an
    * SQL oracle recomputes the exact resampled samples. Returns
    * `(n_in, n_out, rms_out)`; `(0, 0, 0.0)` for non-PCM16 input. */
  def pcm16Resample(bytes: Array[Byte], targetRate: Int): (Int, Int, Double) =
    pcm16Layout(bytes) match {
      case None => (0, 0, 0.0)
      case Some((dataOff, nSamples, sampleRate, _)) =>
        if (targetRate <= 0 || sampleRate <= 0) return (nSamples, 0, 0.0)
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val nOut = (nSamples.toLong * targetRate / sampleRate).toInt
        var sq = 0.0
        var i = 0
        while (i < nOut) {
          val src = (i.toLong * sampleRate / targetRate).toInt
          val v = bb.getShort(dataOff + 2 * src).toDouble
          sq += v * v
          i += 1
        }
        val rms = if (nOut == 0) 0.0 else math.sqrt(sq / nOut)
        (nSamples, nOut, rms)
    }

  val resampleUdf = udf((b: Array[Byte], t: Int) => pcm16Resample(b, t))

  /** Energy-gate VAD trim over full `frameSize`-sample frames: a frame is
    * voiced when its summed |sample| is ≥ `frameSize·perSampleThreshold`
    * (the complement of [[pcm16FrameStats]]'s silence test — same integer
    * arithmetic, so the oracle recomputes the voiced set exactly). Returns
    * `(n_frames, n_voiced, first_voiced, last_voiced)` with −1 markers when
    * nothing is voiced — the leading/trailing-silence trim every audio
    * curation pipeline applies before transcription. */
  def pcm16VadTrim(
      bytes: Array[Byte],
      frameSize: Int = 16,
      perSampleThreshold: Int = 16384): (Int, Int, Int, Int) =
    pcm16Layout(bytes) match {
      case None => (0, 0, -1, -1)
      case Some((dataOff, nSamples, _, _)) =>
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val nFrames = nSamples / frameSize
        val thresh = frameSize.toLong * perSampleThreshold
        var voiced = 0
        var first = -1
        var last = -1
        var f = 0
        while (f < nFrames) {
          val sum = frameSum(bb, dataOff, f, frameSize)
          if (sum >= thresh) {
            voiced += 1
            if (first < 0) first = f
            last = f
          }
          f += 1
        }
        (nFrames, voiced, first, last)
    }

  val vadTrimUdf = udf((b: Array[Byte]) => pcm16VadTrim(b))

  /** The audio-curation pipeline in ONE kernel pass: decode → energy-gate
    * VAD trim ([[pcm16VadTrim]] semantics) → nearest-index resample of the
    * KEPT span to `targetRate` ([[pcm16Resample]] index math, offset by the
    * span start) → RMS of the final signal. Exactly what a speech-data
    * pipeline runs per file before featurization; integer-exact throughout
    * so an SQL oracle replays the whole chain. Returns
    * `(n_frames, n_voiced, kept_samples, n_out, rms)`; all-zero for
    * non-PCM16 input, n_out = 0 when nothing is voiced. */
  def pcm16Curate(
      bytes: Array[Byte],
      targetRate: Int,
      frameSize: Int = 16,
      perSampleThreshold: Int = 16384): (Int, Int, Int, Int, Double) =
    pcm16Layout(bytes) match {
      case None => (0, 0, 0, 0, 0.0)
      case Some((dataOff, _, sampleRate, _)) =>
        // the trim IS pcm16VadTrim — one gate definition, three consumers
        val (nFrames, voiced, first, last) =
          pcm16VadTrim(bytes, frameSize, perSampleThreshold)
        if (voiced == 0 || targetRate <= 0) return (nFrames, voiced, 0, 0, 0.0)
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val spanStart = first * frameSize
        val spanLen = (last - first + 1) * frameSize
        val nOut = (spanLen.toLong * targetRate / sampleRate).toInt
        var sq = 0.0
        var i = 0
        while (i < nOut) {
          val src = spanStart + (i.toLong * sampleRate / targetRate).toInt
          val v = bb.getShort(dataOff + 2 * src).toDouble
          sq += v * v
          i += 1
        }
        val rms = if (nOut == 0) 0.0 else math.sqrt(sq / nOut)
        (nFrames, voiced, spanLen, nOut, rms)
    }

  val curateUdf = udf((b: Array[Byte], t: Int) => pcm16Curate(b, t))

  /** Energy-delta acoustic fingerprint (the Haitsma–Kalker / Chromaprint
    * bit shape over frame energies instead of spectral bands — integer-only
    * so it is engine-portable): bit `f` is set when frame `f`'s summed
    * abs-amplitude exceeds frame `f+1`'s. Amplitude-threshold-free, so it
    * survives uniform gain changes of PCM content; identical content ⇒
    * identical fingerprint, which makes it a groupBy dedup key. Capped at
    * 63 delta bits; non-PCM input → −1 (distinct from every real print,
    * whose bit 63 is never set). */
  def pcm16Fingerprint(bytes: Array[Byte], frameSize: Int = 16): Long =
    pcm16Layout(bytes) match {
      case None => -1L
      case Some((dataOff, nSamples, _, _)) =>
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val nFrames = nSamples / frameSize
        val e = new Array[Long](nFrames)
        var f = 0
        while (f < nFrames) {
          val sum = frameSum(bb, dataOff, f, frameSize)
          e(f) = sum
          f += 1
        }
        var fp = 0L
        f = 0
        while (f < nFrames - 1 && f < 63) {
          if (e(f) > e(f + 1)) fp |= 1L << f
          f += 1
        }
        fp
    }

  val fingerprintUdf = udf((b: Array[Byte]) => pcm16Fingerprint(b))

  /** Deterministic mono 16-bit PCM sine fixture (reference: tests/end_to_end.rs:332-351):
    * `lengthSamples` frames of a 440 Hz sine at `sampleRate`, i16 max amplitude.
    * Used by specs and the verification surface; NOT part of the pipeline.
    */
  def synthWav(sampleRate: Int, lengthSamples: Int): Array[Byte] =
    pcm16Wav(sampleRate, lengthSamples)(i =>
      (math.sin(2.0 * math.Pi * 440.0 * i / sampleRate) * Short.MaxValue).toShort)

  val synthUdf = udf((sr: Int, len: Int) => synthWav(sr, len))

  /** Deterministic INTEGER-PCM mono 16-bit fixture: sample i =
    * ((i * 2654435761) mod 65536) - 32768. Pure integer arithmetic, so an SQL
    * oracle can recompute the exact samples (the sine fixture's `sin` is not
    * bit-portable across math libraries). Spec/verification use only.
    */
  def synthPcmWav(sampleRate: Int, lengthSamples: Int): Array[Byte] =
    synthPcmWavSeeded(sampleRate, lengthSamples, 0L)

  val synthPcmUdf = udf((sr: Int, len: Int) => synthPcmWav(sr, len))

  /** Seeded variant of [[synthPcmWav]]: the phase offset makes the PCM
    * CONTENT a function of the seed, so fixtures can model distinct
    * recordings (same formula shifted) rather than truncations of one
    * signal — what the fingerprint-dedup surface needs. */
  def synthPcmWavSeeded(sampleRate: Int, lengthSamples: Int, seed: Long): Array[Byte] =
    pcm16Wav(sampleRate, lengthSamples)(i => (((i + seed) * 2654435761L) % 65536L - 32768L).toShort)

  /** A 44-byte-header mono 16-bit PCM WAV of `lengthSamples` samples at
    * `sampleRate`, sample `i` being `sample(i)`. */
  private def pcm16Wav(sampleRate: Int, lengthSamples: Int)(sample: Int => Int): Array[Byte] = {
    val dataSize = lengthSamples * 2
    val bb = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0x46464952); bb.putInt(36 + dataSize); bb.putInt(0x45564157)
    bb.putInt(0x20746d66); bb.putInt(16)
    bb.putShort(1); bb.putShort(1)            // PCM, mono
    bb.putInt(sampleRate); bb.putInt(sampleRate * 2)
    bb.putShort(2); bb.putShort(16)           // block align, bits
    bb.putInt(0x61746164); bb.putInt(dataSize)
    (0 until lengthSamples).foreach(i => bb.putShort(sample(i).toShort))
    bb.array()
  }

  val synthPcmSeededUdf =
    udf((sr: Int, len: Int, seed: Long) => synthPcmWavSeeded(sr, len, seed))
}

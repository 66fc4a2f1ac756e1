package graft

import graft.core._
import graft.functions.{Magic, Wav}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Unit tests for the pure-Scala core (reference: src/main.rs:862-987). */
class CoreSpec extends AnyFunSuite {

  /** Tiny property-check driver over a ScalaCheck Gen (no scalatestplus in cache). */
  def forAll[A](g: Gen[A], n: Int = 200)(check: A => Unit): Unit =
    (0 until n).foreach { i => g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check) }

  // reference test: normalized paths (src/main.rs:871-893)
  test("path normalization: backslashes and leading ./ only") {
    assert(PathNorm.normalize("nested\\folder\\file.wav") == "nested/folder/file.wav")
    assert(PathNorm.normalize("./nested/file.wav") == "nested/file.wav")
    assert(PathNorm.normalize("././x.wav") == "x.wav")
    // interior ./ survives — only the leading prefix strips
    assert(PathNorm.normalize("./nested/./folder/file.wav") == "nested/./folder/file.wav")
    assert(PathNorm.normalize("plain.wav") == "plain.wav")
  }

  test("deleteTree removes a tree and its links, never what a link points to") {
    import java.nio.file.Files
    val outside = Files.createTempDirectory("graft-rm-outside")
    val kept = Files.write(outside.resolve("kept.wav"), Array[Byte](1, 2))
    val tree = Files.createTempDirectory("graft-rm")
    Files.write(Files.createDirectories(tree.resolve("a/b")).resolve("x.wav"), Array[Byte](3))
    Files.createSymbolicLink(tree.resolve("a/dirlink"), outside)
    Files.createSymbolicLink(tree.resolve("filelink.wav"), kept)
    LocalFiles.deleteTree(tree)
    assert(!Files.exists(tree))
    assert(Files.readAllBytes(kept).sameElements(Array[Byte](1, 2)))
    // a root that is itself a link: the link goes, its target stays
    val rootLink = Files.createSymbolicLink(Files.createTempDirectory("graft-rm-root").resolve("l"), outside)
    LocalFiles.deleteTree(rootLink)
    assert(!Files.exists(rootLink, java.nio.file.LinkOption.NOFOLLOW_LINKS) && Files.exists(kept))
    LocalFiles.deleteTree(outside)
    LocalFiles.deleteTree(rootLink.getParent)
    LocalFiles.deleteTree(tree) // a missing path is no error
    assert(!Files.exists(outside))
  }

  test("wav parse: synthetic fixtures at every reference sample rate") {
    for (sr <- Seq(8000, 16000, 22050, 44100)) {
      val info = Wav.parse(Wav.synthWav(sr, sr)) // 1 second exactly
      assert(info.duration == 1.0, s"sr=$sr")
      assert(info.sampling_rate == sr)
    }
    val half = Wav.parse(Wav.synthWav(16000, 8000))
    assert(half.duration == 0.5)
    // chunk layouts: data before fmt, an odd-sized chunk with its pad byte,
    // a data chunk cut short (its frames present count)
    val (fmt, data) = { val w = Wav.synthWav(16000, 1600); (w.slice(20, 36), w.drop(44)) }
    val dataFirst = riff(chunk("data", data), chunk("fmt ", fmt))
    assert(Wav.parse(dataFirst) == Wav.WavInfo(0.1, 16000))
    assert(Wav.pcm16Rms(dataFirst).map(_._2).contains(16000))
    assert(Wav.parse(riff(chunk("LIST", Array[Byte](1, 2, 3)), chunk("fmt ", fmt), chunk("data", data))) ==
      Wav.WavInfo(0.1, 16000))
    assert(Wav.parse(riff(chunk("fmt ", fmt), chunk("data", data.take(1600), data.length))) ==
      Wav.WavInfo(0.05, 16000))
  }

  /** A RIFF chunk: its id, its declared size (`size`, else the body's) and
    * its body, padded to an even length. */
  private def chunk(id: String, body: Array[Byte], size: Long = -1): Array[Byte] = {
    val head = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.put(id.getBytes("US-ASCII")).putInt((if (size < 0) body.length.toLong else size).toInt)
    head.array ++ body ++ Array.fill[Byte](body.length % 2)(0)
  }

  /** A RIFF/WAVE file of `chunks`, in order. */
  private def riff(chunks: Array[Byte]*): Array[Byte] = chunk("RIFF", "WAVE".getBytes("US-ASCII") ++ chunks.flatten)

  test("wav parse: non-WAV and corrupt bytes → (0.0, 0)") {
    assert(Wav.parse(Array[Byte]()) == Wav.WavInfo(0.0, 0))
    assert(Wav.parse("not audio at all".getBytes) == Wav.WavInfo(0.0, 0))
    assert(Wav.parse(null) == Wav.WavInfo(0.0, 0))
    val truncated = Wav.synthWav(16000, 16000).take(40)
    assert(Wav.parse(truncated) == Wav.WavInfo(0.0, 0))
    val w = Wav.synthWav(16000, 1600)
    assert(Wav.parse(riff(chunk("fmt ", w.slice(20, 36)), chunk("data", w.drop(44), 0xFFFFFFFFL))) ==
      Wav.WavInfo(0.0, 0))
  }

  test("flac streaminfo: synth round-trip, incl. 36-bit totals and edge rates") {
    import graft.functions.Flac
    for ((sr, total) <- Seq((8000, 1000L), (44100, 123456L), (96000, 0L),
                            (192000, (1L << 35) + 7))) {
      val info = Flac.parse(Flac.synthFlacHeader(sr, total))
      assert(info.contains(Flac.FlacInfo(sr, 1, 16, total)), s"sr=$sr total=$total")
    }
  }

  test("flac streaminfo: non-FLAC, corrupt, and WAV bytes → None") {
    import graft.functions.Flac
    assert(Flac.parse(Array[Byte]()).isEmpty)
    assert(Flac.parse(null).isEmpty)
    assert(Flac.parse("fLaCbut way too short".getBytes).isEmpty)
    assert(Flac.parse(Wav.synthWav(16000, 100)).isEmpty)
    // wrong first-block type must not parse (STREAMINFO is required first)
    val b = Flac.synthFlacHeader(16000, 100)
    b(4) = 0x84.toByte // type 4 = VORBIS_COMMENT
    assert(Flac.parse(b).isEmpty)
  }

  test("ogg header: synth round-trip at every fixture rate, incl. zero total") {
    import graft.functions.Ogg
    for ((sr, total) <- Seq((8000, 1000L), (16000, 99999L), (44100, 0L),
                            (48000, 1234567890L))) {
      val info = Ogg.parse(Ogg.synthOggHeader(sr, total))
      assert(info.contains(Ogg.OggInfo(sr, 1, total)), s"sr=$sr total=$total")
    }
    // single-page stream (no EOS page): the BOS page's own granule (0) wins
    val solo = Ogg.synthOggHeader(16000, 500L).take(27 + 1 + 30)
    assert(Ogg.parse(solo).contains(Ogg.OggInfo(16000, 1, 0L)))
  }

  test("ogg header: non-OGG, corrupt, and cross-codec bytes → None") {
    import graft.functions.{Flac, Ogg}
    assert(Ogg.parse(Array[Byte]()).isEmpty)
    assert(Ogg.parse(null).isEmpty)
    assert(Ogg.parse("OggSbut far too short".getBytes).isEmpty)
    assert(Ogg.parse(Wav.synthWav(16000, 100)).isEmpty)
    assert(Ogg.parse(Flac.synthFlacHeader(16000, 100)).isEmpty)
    // non-BOS first page must not parse
    val b = Ogg.synthOggHeader(16000, 100)
    b(5) = 0x00
    assert(Ogg.parse(b).isEmpty)
    // first packet not a Vorbis identification header must not parse
    val c = Ogg.synthOggHeader(16000, 100)
    c(28) = 0x03 // comment-header packet type
    assert(Ogg.parse(c).isEmpty)
  }

  test("mp3 frame chain: synth round-trip across the MPEG-1 rate table") {
    import graft.functions.Mp3
    for (sr <- Seq(44100, 48000, 32000); nf <- Seq(1, 7, 40)) {
      val info = Mp3.parse(Mp3.synthMp3(sr, nf))
      assert(info.contains(Mp3.Mp3Info(sr, 1, nf.toLong)), s"sr=$sr nf=$nf")
    }
  }

  test("mp3 frame chain: non-MP3, truncated, and cross-codec bytes → None") {
    import graft.functions.{Flac, Mp3, Ogg}
    assert(Mp3.parse(Array[Byte]()).isEmpty)
    assert(Mp3.parse(null).isEmpty)
    assert(Mp3.parse("definitely not mpeg".getBytes).isEmpty)
    assert(Mp3.parse(Wav.synthWav(16000, 100)).isEmpty)
    assert(Mp3.parse(Flac.synthFlacHeader(16000, 100)).isEmpty)
    assert(Mp3.parse(Ogg.synthOggHeader(16000, 100)).isEmpty)
    // a truncated final frame breaks the chain
    val b = Mp3.synthMp3(44100, 3)
    assert(Mp3.parse(b.take(b.length - 1)).isEmpty)
    // a mid-stream rate flip breaks the chain (frame 2 re-labeled 48 kHz)
    val c = Mp3.synthMp3(44100, 3)
    val len = 144 * 128000 / 44100
    c(len + 2) = ((9 << 4) | (1 << 2)).toByte
    assert(Mp3.parse(c).isEmpty)
  }

  test("aiff comm chunk: synth round-trip, incl. extended-float rate decode") {
    import graft.functions.Aiff
    for ((sr, frames) <- Seq((8000, 1000L), (12000, 99999L), (16000, 1L),
                             (44100, 1234567890L), (192000, 0L))) {
      val info = Aiff.parse(Aiff.synthAiff(sr, frames))
      assert(info.contains(Aiff.AiffInfo(sr, 1, frames)), s"sr=$sr frames=$frames")
    }
  }

  test("aiff comm chunk: non-AIFF, corrupt, and cross-codec bytes → None") {
    import graft.functions.{Aiff, Flac, Mp3, Ogg}
    assert(Aiff.parse(Array[Byte]()).isEmpty)
    assert(Aiff.parse(null).isEmpty)
    assert(Aiff.parse("FORMxxxxWAVE not aiff at all".getBytes).isEmpty)
    assert(Aiff.parse(Wav.synthWav(16000, 100)).isEmpty)
    assert(Aiff.parse(Flac.synthFlacHeader(16000, 100)).isEmpty)
    assert(Aiff.parse(Ogg.synthOggHeader(16000, 100)).isEmpty)
    assert(Aiff.parse(Mp3.synthMp3(44100, 2)).isEmpty)
    // a negative (sign-bit) rate must not parse
    val b = Aiff.synthAiff(16000, 100)
    b(28) = (b(28) | 0x80).toByte
    assert(Aiff.parse(b).isEmpty)
    // a COMM chunk declared shorter than the spec's 18 bytes must not parse
    val c = Aiff.synthAiff(16000, 100)
    c(19) = 17
    assert(Aiff.parse(c).isEmpty)
  }

  test("adts frame chain: synth round-trip across the MPEG-4 rate table") {
    import graft.functions.Adts
    for (sr <- Seq(96000, 48000, 44100, 16000, 8000, 7350); nf <- Seq(1, 7, 40)) {
      val info = Adts.parse(Adts.synthAdts(sr, nf))
      assert(info.contains(Adts.AdtsInfo(sr, 1, 1024L * nf)), s"sr=$sr nf=$nf")
    }
  }

  test("adts frame chain: non-AAC, truncated, and cross-codec bytes → None") {
    import graft.functions.{Adts, Aiff, Flac, Mp3, Ogg}
    assert(Adts.parse(Array[Byte]()).isEmpty)
    assert(Adts.parse(null).isEmpty)
    assert(Adts.parse("definitely not adts".getBytes).isEmpty)
    assert(Adts.parse(Wav.synthWav(16000, 100)).isEmpty)
    assert(Adts.parse(Flac.synthFlacHeader(16000, 100)).isEmpty)
    assert(Adts.parse(Ogg.synthOggHeader(16000, 100)).isEmpty)
    assert(Adts.parse(Aiff.synthAiff(16000, 100)).isEmpty)
    // the 0xFFF-sync twins are mutually exclusive BOTH ways (layer field)
    assert(Adts.parse(Mp3.synthMp3(44100, 2)).isEmpty)
    assert(Mp3.parse(Adts.synthAdts(44100, 2)).isEmpty)
    // a truncated final frame breaks the chain
    val b = Adts.synthAdts(48000, 3)
    assert(Adts.parse(b.take(b.length - 1)).isEmpty)
    // a mid-stream rate flip breaks the chain
    val c = Adts.synthAdts(48000, 3)
    c(7 + 2) = ((1 << 6) | (4 << 2)).toByte // frame 2 re-labeled 44.1 kHz
    assert(Adts.parse(c).isEmpty)
  }

  test("decode kernel: every synth fixture routes to ITS codec; stub for the rest") {
    import graft.functions.{Adts, Aiff, Flac, Mp3, Ogg}
    import graft.operators.Multimodal.decodeKernel
    def srDur(b: Array[Byte]): (Int, Double) = {
      val r = decodeKernel(b); (r._6, r._7)
    }
    assert(srDur(Wav.synthWav(16000, 16000)) == ((16000, 1.0)))
    assert(srDur(Flac.synthFlacHeader(22050, 44100)) == ((22050, 2.0)))
    assert(srDur(Ogg.synthOggHeader(8000, 4000)) == ((8000, 0.5)))
    assert(srDur(Mp3.synthMp3(44100, 5)) == ((44100, 5 * 1152.0 / 44100)))
    assert(srDur(Adts.synthAdts(48000, 3)) == ((48000, 3 * 1024.0 / 48000)))
    assert(srDur(Aiff.synthAiff(12000, 6000)) == ((12000, 0.5)))
    // unknown bytes fall through to the byte-level stub: zeroed audio fields
    assert(srDur("just some text payload".getBytes) == ((0, 0.0)))
    assert(srDur(Array[Byte]()) == ((0, 0.0)))
  }

  test("metadata type lattice: merge semantics") {
    assert(MFloat64.merge(MFloat64) == MFloat64)
    assert(MBool.merge(MFloat64) == MString)
    assert(MList(MFloat64).merge(MList(MFloat64)) == MList(MFloat64))
    assert(MList(MBool).merge(MList(MString)) == MList(MString))
    assert(MList(MBool).merge(MString) == MString)
  }

  val genType: Gen[MetadataType] = {
    val scalar = Gen.oneOf[MetadataType](MString, MBool, MFloat64)
    Gen.frequency(4 -> scalar, 1 -> scalar.map(MList(_)))
  }

  test("lattice is commutative, associative, idempotent (property)") {
    forAll(Gen.zip(genType, genType, genType)) { case (a, b, c) =>
      assert(a.merge(b) == b.merge(a))
      assert(a.merge(b).merge(c) == a.merge(b.merge(c)))
      assert(a.merge(a) == a)
      // String is absorbing for scalars
      assert(a.merge(MString) == MString || a.isInstanceOf[MList])
    }
  }

  test("reserved metadata keys") {
    assert(MetadataType.reservedKeys == Set("duration", "audio", "id"))
    assert(MetadataType.sanitizeColumnName("""a"b""") == """a""b""")
  }

  test("magic sniff recognizes the audio families; allow-list ported verbatim") {
    assert(Magic.audioMimeTypes.size == 12)
    assert(Magic.sniff(Wav.synthWav(8000, 100)).contains("audio/wav"))
    assert(Magic.sniff("fLaC0000".getBytes).contains("audio/flac"))
    assert(Magic.sniff("OggS0000".getBytes).contains("audio/ogg"))
    assert(Magic.sniff("ID3rest".getBytes).contains("audio/mpeg"))
    assert(Magic.sniff("FORM1234AIFF".getBytes).contains("audio/aiff"))
    assert(Magic.sniff("hello text".getBytes).isEmpty)
    assert(Magic.isAllowedAudio(Wav.synthWav(44100, 10)))
    assert(!Magic.isAllowedAudio("RIFFxxxxNOPE".getBytes))
  }

  test("hashed linear score == reference recomputation on random text (property)") {
    val M = 1000000007L
    def ref(text: String, buckets: Int): Long =
      text.split(" ", -1).map { tok =>
        var acc = 7L
        tok.codePoints().forEach(cp => acc = (acc * 31L + cp) % M)
        graft.functions.HashedLinearScore.weight(acc, buckets)
      }.sum
    val genText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("😀"),
      Gen.const("кир"), Gen.const("混"))).map(_.mkString(" "))
    forAll(Gen.zip(genText, Gen.choose(1, 8192))) { case (t, b) =>
      val expr = graft.functions.HashedLinearScore(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(t)), b)
      assert(expr.eval(null) == ref(t, b), s"text=${t.take(40)} buckets=$b")
    }
  }

  test("image/audio parsers never throw on arbitrary bytes (property)") {
    // the corrupt-input contract after the round-10 BMP width-overflow fix:
    // parse/stats return None and hashes return -1, they do not crash
    val genBytes = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      // adversarial: valid BMP prefix with mutated header words
      Gen.zip(Gen.choose(0, 53), Gen.choose(Int.MinValue, Int.MaxValue)).map {
        case (off, v) =>
          val b = graft.functions.Bmp.synthBmp(4, 2).clone()
          java.nio.ByteBuffer.wrap(b)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(off, v)
          b
      })
    forAll(genBytes, n = 400) { bytes =>
      graft.functions.Bmp.parse(bytes)
      graft.functions.Bmp.stats(bytes)
      graft.functions.Bmp.ahash63(bytes)
      graft.functions.Wav.parse(bytes)
      graft.functions.Flac.parse(bytes)
      graft.functions.Ogg.parse(bytes)
      graft.functions.Mp3.parse(bytes)
      graft.functions.Aiff.parse(bytes)
      graft.functions.Adts.parse(bytes)
      graft.functions.Ppm.parse(bytes)
      graft.functions.Png.parse(bytes)
      graft.functions.Png.stats(bytes)
      graft.functions.Jpeg.parse(bytes)
      graft.functions.Jpeg.stats(bytes)
      graft.functions.Gif.parse(bytes)
      graft.functions.Gif.stats(bytes)
      graft.functions.G711.parse(bytes)
      graft.functions.G711.decode(bytes)
      graft.functions.Adpcm.parse(bytes)
      graft.functions.Adpcm.decode(bytes)
    }
  }

  test("entropy-coded parsers never throw on header-mutated OWN fixtures (property)") {
    // same contract, but starting from a VALID png/jpeg and mutating any
    // byte — exercises chunk-walk, zlib, and huffman desync paths rather
    // than the early signature rejects random bytes hit
    val bases = Seq(
      graft.functions.Png.synthPng(6, 4, 3),
      graft.functions.Jpeg.synthJpeg(3, 2, 3),
      graft.functions.Gif.synthGif(6, 4, 3))
    val gen = Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1000),
      Gen.choose(Byte.MinValue, Byte.MaxValue))
    forAll(gen, n = 600) { case (which, off, v) =>
      val b = bases(which).clone()
      b(off % b.length) = v
      which match {
        case 0 => graft.functions.Png.parse(b); graft.functions.Png.stats(b)
        case 1 => graft.functions.Jpeg.parse(b); graft.functions.Jpeg.stats(b)
        case _ => graft.functions.Gif.parse(b); graft.functions.Gif.stats(b)
      }
    }
  }

  test("gif LZW round-trips ARBITRARY rasters exactly (property)") {
    // the width-growth schedule and KwKwK handling must hold for any
    // content, not just the fixture formula: random pixels (worst-case
    // dictionary churn), long runs (KwKwK chains), and constant planes
    val gen = Gen.zip(Gen.choose(1, 40), Gen.choose(1, 30), Gen.choose(0, 2),
      Gen.choose(0L, Long.MaxValue - 1))
    forAll(gen, n = 120) { case (w, h, kind, seed) =>
      val rnd = new scala.util.Random(seed)
      val px = kind match {
        case 0 => Array.fill(w * h)(rnd.nextInt(256).toByte)      // churn
        case 1 => // run-heavy: few values, long stretches
          val out = new Array[Byte](w * h)
          var i = 0
          while (i < out.length) {
            val v = rnd.nextInt(4).toByte
            val run = 1 + rnd.nextInt(20)
            var j = 0
            while (j < run && i < out.length) { out(i) = v; i += 1; j += 1 }
          }
          out
        case _ => Array.fill(w * h)(7.toByte)                     // constant
      }
      val b = graft.functions.Gif.synthGifRaster(w, h, px)
      val st = graft.functions.Gif.stats(b)
        .getOrElse(fail(s"decode failed: $w x $h kind=$kind seed=$seed"))
      val expect = px.map(p => (p & 0xff).toLong).sum
      assert(st.sum_r == expect && st.sum_g == expect && st.sum_b == expect,
        s"LZW round-trip mismatch: $w x $h kind=$kind seed=$seed")
    }
  }

  test("jpeg DC pipeline round-trips ARBITRARY even block levels (property)") {
    val gen = Gen.zip(Gen.choose(1, 8), Gen.choose(1, 6),
      Gen.choose(0L, Long.MaxValue - 1))
    forAll(gen, n = 120) { case (wb, hb, seed) =>
      val rnd = new scala.util.Random(seed)
      val grays = Array.fill(hb, wb)(rnd.nextInt(128) * 2) // any even level
      val b = graft.functions.Jpeg.synthJpegBlocks(wb, hb, (bx, by) => grays(by)(bx))
      val st = graft.functions.Jpeg.stats(b)
        .getOrElse(fail(s"decode failed: $wb x $hb seed=$seed"))
      val expect = grays.map(_.map(64L * _).sum).sum
      assert(st.sum_g == expect, s"huffman/IDCT round-trip mismatch: $wb x $hb seed=$seed")
    }
  }
}

package graft.spark

import graft.SparkSpec
import graft.functions.{Fingerprint32, SimHash64}

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL functions agree with the native implementations") {
    val row = spark.sql(
      """SELECT graft_fingerprint32('hello world') AS fp,
        |       graft_simhash64('hello world') AS sh,
        |       size(graft_minhash_sig('hello world hello', 64, 3)) AS nsig,
        |       size(graft_minhash_bands('hello world hello', 64, 3, 8)) AS nbands,
        |       size(graft_binary_features(cast('hello' AS BINARY), 16)) AS nfeat
        |""".stripMargin).head()
    assert(row.getLong(0) == Fingerprint32.hash("hello world"))
    assert(row.getLong(1) == SimHash64.compute("hello world"))
    assert(row.getInt(2) == 64)
    assert(row.getInt(3) == 8)
    assert(row.getInt(4) == 16)
  }

  test("band hashes in SQL match the banded signature fold") {
    val (sql1, sql2) = spark.sql(
      """SELECT graft_minhash_bands(text, 128, 5, 16) AS b,
        |       graft_minhash_sig(text, 128, 5) AS s
        |FROM VALUES ('the quick brown fox jumps over the lazy dog') AS t(text)
        |""".stripMargin).as[(Array[Long], Array[Long])].head()
    assert(sql1.length == 16 && sql2.length == 128)
    // same text twice → identical bucket keys (deterministic constants)
    val again = spark.sql(
      """SELECT graft_minhash_bands('the quick brown fox jumps over the lazy dog', 128, 5, 16)
        |""".stripMargin).as[Array[Long]].head()
    assert(again.toSeq == sql1.toSeq)
  }

  test("optional oph argument selects the one-permutation kernel") {
    val row = spark.sql(
      """SELECT graft_minhash_sig('the quick brown fox', 32, 3, true) AS o,
        |       graft_minhash_sig('the quick brown fox', 32, 3) AS d,
        |       graft_minhash_bands('the quick brown fox', 32, 3, 4, true) AS ob
        |""".stripMargin).as[(Array[Long], Array[Long], Array[Long])].head()
    assert(row._1.toSeq ==
      graft.functions.MinHashSig.computeOph("the quick brown fox", 32, 3).toSeq)
    assert(row._2.toSeq ==
      graft.functions.MinHashSig.compute("the quick brown fox", 32, 3).toSeq)
    assert(row._1.toSeq != row._2.toSeq && row._3.length == 4)
  }

  test("graft_normalize in SQL: NFC + whitespace, optional casefold literal") {
    val r = spark.sql(
      "SELECT graft_normalize('  A\tB  '), graft_normalize('  A\tB  ', true)")
      .collect().head
    assert(r.getString(0) == "A B")
    assert(r.getString(1) == "a b")
  }

  test("graft_multimatch in SQL: per-pattern counts via the automaton") {
    val row = spark.sql(
      """SELECT graft_multimatch('aa bb aa cc', 'aa,bb,zz') AS c,
        |       graft_multimatch('x|y', 'x;y', ';') AS c2
        |""".stripMargin).head()
    assert(row.getSeq[Long](0) == Seq(2L, 1L, 0L))
    assert(row.getSeq[Long](1) == Seq(1L, 1L))
  }

  test("non-literal parameter arguments are rejected") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(text, doc_id, 3) FROM VALUES ('x', 1) AS t(text, doc_id)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("media kit in SQL: decode, dhash, resize, audio energy") {
    // 2×2 PNG with gray g(x,y) = 50 + 100x + 10y
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) {
      val g = 50 + 100 * x + 10 * y
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val ibos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", ibos)
    val pcm = Array.tabulate[Byte](8)(j => (128 + j).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong)
    val abos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, abos)
    import spark.implicits._
    Seq((ibos.toByteArray, abos.toByteArray)).toDF("img", "wav")
      .createOrReplaceTempView("media")
    val r = spark.sql(
      """SELECT graft_image_decode(img).width, graft_image_decode(img).height,
        |  graft_image_resize(img, 1, 1).px_checksum,
        |  graft_image_dhash(img) IS NOT NULL,
        |  graft_audio_decode(wav).n_bytes,
        |  graft_audio_energy(wav, 4)
        |FROM media""".stripMargin).collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 2)
    // 1×1 resize picks source pixel (0,0): g=50 → checksum (0 ^ 0x323232)
    assert(r.getLong(2) == 0x323232L)
    assert(r.getBoolean(3))
    assert(r.getLong(4) == 8L)
    // windows of 4 over deltas 0..7: [0+1+4+9, 16+25+36+49] = [14, 126]
    assert(r.getSeq[Long](5) == Seq(14L, 126L))
  }
}

package graft.spark

import graft.functions.{BinaryFeatures, Fingerprint32, HilbertIndex2, MinHashBands, MinHashSig, SimHash64}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/**
 * Catalyst integration point: registers the engine's native expressions as
 * SQL functions via `SparkSessionExtensions` — the public Spark extension
 * API (enable with
 * `.config("spark.sql.extensions", "graft.spark.GraftExtensions")`, which
 * every session built by [[graft.GraftSession]] sets). Pure-SQL users
 * then get the engine's sketch/fingerprint kit with full codegen:
 *
 *   SELECT graft_fingerprint32(text),
 *          graft_simhash64(text),
 *          graft_minhash_bands(text, 256, 5, 32)
 *   FROM documents
 *
 * Constant arguments (hash counts, shingle length, bands, dims) must be
 * integer literals — they parameterize generated code, mirroring how
 * Spark's own `approx_percentile` treats its accuracy argument.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
    // conf-gated plan rewrites (each is a no-op until its conf is set)
    ext.injectOptimizerRule(_ => RangeJoinChunkRule)
    ext.injectOptimizerRule(_ => MvRewriteRule)
    ext.injectPlannerStrategy(_ => FooterCountStrategy)
    // SQL DML (INSERT/UPDATE/DELETE/MERGE) over graft-lake catalog
    // tables: the rule that keeps them on the transaction log
    ext.injectPostHocResolutionRule(_ => LakeDmlRule)
    // maintenance grammar (VACUUM / OPTIMIZE [ZORDER BY] / RESTORE /
    // DESCRIBE HISTORY) — statements vanilla Spark SQL cannot parse
    ext.injectParser((_, parser) => new GraftSqlParser(parser))
    // table-valued change feed (Delta's exact UDTF shape):
    //   SELECT * FROM table_changes('corpus', 2)        -- commits 2..latest
    //   SELECT * FROM table_changes('corpus', 2, 5)     -- commits 2..5
    // net row-level delta with change_kind ∈ {insert, delete}; rides the
    // same GraftLake.changes machinery as the batch reader options, so
    // cost is bounded by changed-file volume
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, null,
        "table_changes",
        "table_changes(table_or_path, startingVersion[, endingVersion]) - " +
          "net row-level change feed of commits [start, end]", ""),
      GraftExtensions.tableChangesBuilder))
  }
}

object GraftExtensions {

  private def intArg(e: Expression, name: String, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal, got $other")
  }

  private def boolArg(e: Expression, name: String, fn: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a boolean literal, got $other")
  }

  private def strArg(e: Expression, name: String, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a string literal, got $other")
  }

  /** The engine's SQL function surface: (name, usage, builder). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_fingerprint32",
      "graft_fingerprint32(str) - 32-bit polynomial rolling-hash fingerprint",
      { case Seq(c) => Fingerprint32(c) }: Seq[Expression] => Expression),
    ("graft_simhash64",
      "graft_simhash64(str) - 64-bit SimHash over whitespace tokens",
      { case Seq(c) => SimHash64(c) }: Seq[Expression] => Expression),
    ("graft_hilbert2",
      "graft_hilbert2(x, y, order) - 2-D Hilbert curve index of (x, y), " +
        "coordinates masked to the low `order` bits",
      { case Seq(x, y, o) =>
        HilbertIndex2(x, y, intArg(o, "order", "graft_hilbert2"))
      }: Seq[Expression] => Expression),
    ("graft_minhash_sig",
      "graft_minhash_sig(str, numHashes, shingleLen[, oph]) - MinHash signature array " +
        "(oph=true: one-permutation kernel)",
      { case Seq(c, n, l) =>
        MinHashSig(c, intArg(n, "numHashes", "graft_minhash_sig"),
          intArg(l, "shingleLen", "graft_minhash_sig"))
        case Seq(c, n, l, o) =>
        MinHashSig(c, intArg(n, "numHashes", "graft_minhash_sig"),
          intArg(l, "shingleLen", "graft_minhash_sig"),
          boolArg(o, "oph", "graft_minhash_sig"))
      }: Seq[Expression] => Expression),
    ("graft_minhash_bands",
      "graft_minhash_bands(str, numHashes, shingleLen, bands[, oph]) - LSH band bucket keys",
      { case Seq(c, n, l, b) =>
        MinHashBands(c, intArg(n, "numHashes", "graft_minhash_bands"),
          intArg(l, "shingleLen", "graft_minhash_bands"),
          intArg(b, "bands", "graft_minhash_bands"))
        case Seq(c, n, l, b, o) =>
        MinHashBands(c, intArg(n, "numHashes", "graft_minhash_bands"),
          intArg(l, "shingleLen", "graft_minhash_bands"),
          intArg(b, "bands", "graft_minhash_bands"),
          boolArg(o, "oph", "graft_minhash_bands"))
      }: Seq[Expression] => Expression),
    ("graft_binary_features",
      "graft_binary_features(bin, dim) - deterministic feature vector from bytes (decode stub)",
      { case Seq(c, d) =>
        BinaryFeatures(c, intArg(d, "dim", "graft_binary_features"))
      }: Seq[Expression] => Expression),
    ("graft_normalize",
      "graft_normalize(str[, casefold]) - Unicode NFC + whitespace collapse + trim",
      { case Seq(c) => graft.functions.NormalizeText(c, casefold = false)
        case Seq(c, f) =>
          graft.functions.NormalizeText(c,
            boolArg(f, "casefold", "graft_normalize"))
      }: Seq[Expression] => Expression),
    ("graft_jaro_winkler",
      "graft_jaro_winkler(l, r) - Jaro-Winkler similarity in [0,1] (DuckDB-parity)",
      { case Seq(l, r) => graft.functions.JaroWinkler(l, r)
      }: Seq[Expression] => Expression),
    ("graft_damerau_levenshtein",
      "graft_damerau_levenshtein(l, r) - unrestricted Damerau-Levenshtein distance",
      { case Seq(l, r) => graft.functions.DamerauLevenshtein(l, r)
      }: Seq[Expression] => Expression),
    ("graft_image_decode",
      "graft_image_decode(bin) - JDK image decode: struct(width, height, px_checksum)",
      { case Seq(c) => graft.functions.ImageDecodeMeta(c)
      }: Seq[Expression] => Expression),
    ("graft_image_dhash",
      "graft_image_dhash(bin) - 64-bit perceptual difference hash",
      { case Seq(c) => graft.functions.ImageDHash(c)
      }: Seq[Expression] => Expression),
    ("graft_image_resize",
      "graft_image_resize(bin, w, h) - nearest-neighbor resize metadata",
      { case Seq(c, w, h) => graft.functions.ImageResizeMeta(c,
          intArg(w, "w", "graft_image_resize"),
          intArg(h, "h", "graft_image_resize"))
      }: Seq[Expression] => Expression),
    ("graft_audio_decode",
      "graft_audio_decode(bin) - JDK PCM decode: struct(sample_rate, bits, channels, n_bytes, pcm_checksum)",
      { case Seq(c) => graft.functions.AudioDecodeMeta(c)
      }: Seq[Expression] => Expression),
    ("graft_audio_energy",
      "graft_audio_energy(bin, windowSamples[, maxWindows]) - per-window integer PCM energies",
      { case Seq(c, w) => graft.functions.AudioWindowEnergy(c,
          intArg(w, "windowSamples", "graft_audio_energy"), 4096)
        case Seq(c, w, m) => graft.functions.AudioWindowEnergy(c,
          intArg(w, "windowSamples", "graft_audio_energy"),
          intArg(m, "maxWindows", "graft_audio_energy"))
      }: Seq[Expression] => Expression),
    ("graft_hash_embed",
      "graft_hash_embed(str, dim) - unit-norm feature-hashed bag-of-words embedding",
      { case Seq(c, d) =>
        graft.functions.HashEmbed(c, intArg(d, "dim", "graft_hash_embed"))
      }: Seq[Expression] => Expression),
    ("graft_multimatch",
      "graft_multimatch(str, patterns[, sep]) - Aho-Corasick occurrence counts " +
        "per pattern; patterns is a sep-joined literal (default ',')",
      { case Seq(c, p) =>
          graft.functions.MultiPatternCounts(c,
            strArg(p, "patterns", "graft_multimatch").split(',').toSeq)
        case Seq(c, p, s) =>
          val sep = strArg(s, "sep", "graft_multimatch")
          require(sep.length == 1, "graft_multimatch: sep must be one char")
          graft.functions.MultiPatternCounts(c,
            strArg(p, "patterns", "graft_multimatch").split(sep.head).toSeq)
      }: Seq[Expression] => Expression))

  /** `table_changes(t, s[, e])` as a LogicalPlan builder: literals only
    * (the table reference and version bounds parameterize a log read at
    * ANALYSIS time — there is no row-dependent form). Commits [s, e]
    * inclusive = `GraftLake.changes(s-1, e)`; s >= 1 (the initial state
    * is a snapshot read, not a change). */
  private[spark] val tableChangesBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    args => {
      val spark = SparkSession.active
      def longArg(e: Expression, name: String): Long = e match {
        case Literal(v: Int, _) => v.toLong
        case Literal(v: Long, _) => v
        case other => throw new IllegalArgumentException(
          s"table_changes: $name must be an integer literal, got $other")
      }
      val (target, from, to) = args match {
        case Seq(t, s) =>
          (strArg(t, "table", "table_changes"), longArg(s, "startingVersion"),
            -1L)
        case Seq(t, s, e) =>
          (strArg(t, "table", "table_changes"), longArg(s, "startingVersion"),
            longArg(e, "endingVersion"))
        case _ => throw new IllegalArgumentException(
          "table_changes(table_or_path, startingVersion[, endingVersion])")
      }
      val dir = GraftSqlParser.dirOf(spark, target)
      val end = if (to < 0) graft.sources.lake.GraftLake.latestVersion(dir) else to
      require(from >= 1, s"startingVersion must be >= 1, got $from " +
        "(the initial state is a snapshot read, not a change)")
      require(end >= from - 1, s"endingVersion $end before startingVersion $from")
      graft.sources.lake.GraftLake.changes(spark, dir, from - 1, end)
        .queryExecution.logical
    }
}

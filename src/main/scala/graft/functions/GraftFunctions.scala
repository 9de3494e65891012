package graft.functions

import org.apache.spark.sql.SparkSession

/** One-call registration of the library's whole SQL surface — the line a
  * migrating user adds next to `spark.sql.extensions=graft.plans
  * .GraftExtensions` (which injects the top-k optimizer rule):
  *
  * {{{
  *   graft.functions.GraftFunctions.registerAll(spark)
  *   spark.sql("SELECT multi_match(text, 'bad phrase'), deflate_ratio(text) FROM docs")
  * }}}
  *
  * Registered names: `py_findall`, `extract_items` (generator),
  * `word_shingles` (generator), `rolling_fingerprint`, `rolling_anchors`,
  * `gram_stats`, `norm_nfc`, `deflate_ratio`, `multi_match`,
  * `hll_sketch` (aggregate), `cms_sketch` (aggregate), `topk_agg`
  * (aggregate), `charset_of`, `decode_web`. Each delegates to the owning
  * object's
  * `register`, so the names and literal-argument validation stay defined
  * in exactly one place.
  */
object GraftFunctions {
  def registerAll(spark: SparkSession): Unit = {
    PyFindAll.register(spark)
    ExtractItemsGenerator.register(spark)
    WordShinglesGenerator.register(spark)
    RollingFingerprint.register(spark)
    RollingAnchorsGenerator.register(spark)
    GramStats.register(spark)
    NormalizeNFC.register(spark)
    DeflateRatio.register(spark)
    MultiMatch.register(spark)
    HllSketchAgg.register(spark)
    CmsSketchAgg.register(spark)
    TopKAgg.register(spark)
    CharsetOf.register(spark)
    DecodeWeb.register(spark)
    IdnHost.register(spark)
  }
}

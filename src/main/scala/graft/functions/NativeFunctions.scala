package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.Decimal

/** The one table of graft's native SQL functions: each entry is a SQL
  * name, the expression class it builds and its builder.
  * [[graft.GraftExtensions]] injects every entry, so a session built with
  * `spark.sql.extensions=graft.GraftExtensions` (and every
  * `newSession()` of it) resolves all of them from SQL and from the
  * Column helpers (`FloatVectorDot.dotF`, …), which are plain
  * `call_function(name, …)`.
  *
  * Nothing registers a function at call time. The helpers keep their
  * `SparkSession` argument only so code compiled against
  * `X.fn(spark)(…)` keeps compiling; it is unused. In a session built
  * without the extension a helper's column fails at analysis with
  * Spark's `UNRESOLVED_ROUTINE` naming the function.
  */
private[graft] object NativeFunctions {

  /** A function's arguments as its builder sees them: at analysis time,
    * before binding. Constant arguments (`bottom_k(x, 3)`,
    * `sign_bands(v, 8, 8)`) are folded here; a column in their place
    * fails with "must be a literal" instead of an unbound-reference
    * error deep inside Catalyst. `used` counts the arguments the builder
    * read, so a surplus one is an error, not silently dropped. */
  final class Args(fn: String, es: Seq[Expression]) {
    private[NativeFunctions] var used = 0
    def length: Int = es.length

    def apply(i: Int): Expression = {
      require(i < es.length, s"$fn: missing argument ${i + 1}")
      used = math.max(used, i + 1)
      es(i)
    }

    def constant(i: Int, arg: String): Literal = apply(i) match {
      case l: Literal => l
      case e =>
        require(e.foldable,
          s"$fn: $arg must be a literal, got non-constant expression ${e.sql}")
        Literal(e.eval(), e.dataType)
    }

    def num(i: Int, arg: String): Number = constant(i, arg).value match {
      case n: Number => n
      case d: Decimal => d.toJavaBigDecimal // SQL's `0.5`
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a numeric literal, got $v")
    }
    def int(i: Int, arg: String): Int = num(i, arg).intValue()
  }

  final case class Fn(name: String, cls: Class[_ <: Expression],
      build: Args => Expression) {
    def builder: Seq[Expression] => Expression = { es =>
      val a = new Args(name, es)
      val e = build(a)
      require(a.used == es.length, s"$name: takes ${a.used} arguments, got ${es.length}")
      e
    }
  }

  val all: Seq[Fn] = Seq(
    Fn("vec_dot_f", classOf[FloatVectorDot], a => FloatVectorDot(a(0), a(1))),
    Fn("sorted_intersect_count", classOf[SortedIntersectCount],
      a => SortedIntersectCount(a(0), a(1))),
    Fn("lanes_equal_count", classOf[LanesEqualCount],
      a => LanesEqualCount(a(0), a(1))),
    Fn("bands_match_before", classOf[BandsMatchBefore],
      a => BandsMatchBefore(a(0), a(1), a(2),
        if (a.length > 3) a.int(3, "width") else 1)),
    Fn("minhash_sig", classOf[MinHashAgg],
      a => MinHashAgg(a(0), if (a.length > 1) a.int(1, "k") else MinHashAgg.K)),
    Fn("graft_bloom_agg", classOf[BloomAgg], a => BloomAgg(a(0))),
    Fn("graft_bloom_might_contain", classOf[BloomMightContain],
      a => BloomMightContain(a(0), a(1))),
    Fn("bottom_k", classOf[BottomKAgg], a => BottomKAgg(a(0), a.int(1, "k"))),
    Fn("bucket_hist", classOf[BucketHistAgg],
      a => BucketHistAgg(a(0), a.int(1, "bits"))),
    Fn("shingle_hashes", classOf[ShingleHashes],
      a => ShingleHashes(a(0), a.int(1, "n"))),
    Fn("sign_bands", classOf[SignBands],
      a => SignBands(a(0), a.int(1, "nBands"), a.int(2, "width"))),
    Fn("sign_proj_bands", classOf[SignProjBands],
      a => SignProjBands(a(0), a.num(1, "seed").longValue(),
        a.int(2, "nBands"), a.int(3, "width"))),
    Fn("prefix_by_freq", classOf[PrefixByFreq],
      a => PrefixByFreq(a(0), a.constant(1, "freqs"),
        a.num(2, "theta").doubleValue())))
}

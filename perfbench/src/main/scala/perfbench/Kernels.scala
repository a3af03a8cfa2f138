package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project

/** Microbenchmark of the SQL-registered native kernels (`graft.functions`)
  * against the built-in spelling each one replaced. Both spellings are
  * analyzed from SQL text and compiled into a projection, then evaluated
  * over the same generated rows on one thread: the figure is the
  * expression's own cost per row, with no job or scan around it. Both
  * spellings must agree on every row; a disagreement is reported. */
object Kernels {
  val Rows = 4096
  val MinRounds = 5
  val WarmNanos = 300000000L
  val MeasureNanos = 200000000L

  /** `tolerance` is relative; 0 means bit-identical. `char_entropy`'s
    * built-in spelling takes logarithms through StrictMath, the kernel
    * through Math, which may differ in the last bit. */
  final case class Spelling(name: String, kernel: String, builtin: String, tolerance: Double = 0)

  val spellings: Seq[Spelling] = {
    def fold(zip: String) = s"aggregate($zip, 0D, (acc, v) -> acc + v)"
    val (k, r) = (6, 2)
    val bands = (0 until k / r).map { b =>
      (0 until r).map(q => s"array_min(transform(hs, x -> substr(x, ${1 + 5 * (b * r + q)}, 5)))")
        .mkString("md5(cast(concat(", ", ", ") as binary))")
    }.mkString("array(", ", ", ")")
    Seq(
      Spelling("dot_product_float", "dot_product_float(fa, fb)",
        fold("zip_with(fa, fb, (x, y) -> cast(x as double) * cast(y as double))")),
      Spelling("dot_product_float_double", "dot_product_float_double(fa, db)",
        fold("zip_with(fa, db, (x, y) -> cast(x as double) * y)")),
      Spelling("sq_dist_double", "sq_dist_double(da, db)",
        fold("zip_with(da, db, (x, y) -> (x - y) * (x - y))")),
      Spelling("mask_intersect_count", "mask_intersect_count(m1, m2)",
        "aggregate(map_values(map_zip_with(m1, m2, (k, x, y) -> " +
          "cast(bit_count(coalesce(x, 0L) & coalesce(y, 0L)) as bigint))), 0L, (acc, v) -> acc + v)"),
      Spelling("char_entropy", "char_entropy(s)",
        "ln(cast(length(s) as double)) / ln(2D) - aggregate(transform(" +
          "array_sort(array_distinct(split(s, ''))), c -> size(filter(split(s, ''), d -> d = c))), " +
          "0D, (acc, n) -> acc + n * (ln(cast(n as double)) / ln(2D))) / length(s)", 1e-12),
      Spelling("minhash_band_sigs", s"minhash_band_sigs(hs, $k, $r)", bands))
  }

  @volatile private var sink = 0

  /** functions.<name> → ns_per_row, builtin_ns_per_row, agree (and the
    * error class when a spelling throws). */
  def run(spark: SparkSession): Map[String, Map[String, Any]] = {
    def h(tag: String, i: String) = s"xxhash64(id, $i, '$tag')"
    def unit(tag: String) = s"cast(pmod(${h(tag, "i")}, 2001) as double) / 1000 - 1"
    def sortedMap(tag: String) =
      s"map_from_entries(array_sort(transform(array_distinct(transform(sequence(0, 11), " +
        s"i -> pmod(${h(tag + "k", "i")}, 16))), key -> struct(key, ${h(tag, "key")}))))"
    val input = spark.range(0, Rows, 1, 1).selectExpr(
      s"transform(sequence(0, 63), i -> cast(${unit("fa")} as float)) as fa",
      s"transform(sequence(0, 63), i -> cast(${unit("fb")} as float)) as fb",
      s"transform(sequence(0, 63), i -> ${unit("da")}) as da",
      s"transform(sequence(0, 63), i -> ${unit("db")}) as db",
      s"${sortedMap("m1")} as m1", s"${sortedMap("m2")} as m2",
      s"concat_ws('', transform(sequence(1, 48), i -> char(97 + pmod(${h("s", "i")}, 26)))) as s",
      s"transform(sequence(1, 32), i -> md5(cast(concat(id, '-', i) as binary))) as hs")
    val attrs = input.queryExecution.analyzed.output
    val rows: Array[InternalRow] = input.queryExecution.toRdd.map(_.copy()).collect()

    def projection(sql: String): UnsafeProjection =
      input.selectExpr(sql).queryExecution.analyzed match {
        case Project(Seq(e), _) => UnsafeProjection.create(Seq(e), attrs)
        case other => throw new IllegalStateException(s"unexpected plan for $sql: $other")
      }
    // Rounds repeat until each phase has lasted long enough for the JIT to
    // settle (warm-up) and for the median to be stable (measurement).
    def nsPerRow(p: UnsafeProjection): Double = {
      def round(): Long = {
        val t0 = System.nanoTime()
        var acc = 0
        var i = 0
        while (i < rows.length) { acc ^= p(rows(i)).hashCode; i += 1 }
        sink ^= acc
        System.nanoTime() - t0
      }
      def rounds(minRounds: Int, minNanos: Long): Seq[Long] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (out.size < minRounds || out.sum < minNanos) out += round()
        out.toSeq
      }
      rounds(2, WarmNanos)
      val ts = rounds(MinRounds, MeasureNanos).sorted
      ts(ts.size / 2).toDouble / rows.length
    }
    def agree(s: Spelling, a: UnsafeProjection, b: UnsafeProjection): Boolean =
      rows.forall { r =>
        val (x, y) = (a(r).copy(), b(r))
        if (s.tolerance == 0) x == y
        else math.abs(x.getDouble(0) - y.getDouble(0)) <= s.tolerance * math.abs(y.getDouble(0))
      }

    spellings.map { s =>
      s.name -> (try {
        val (pk, pb) = (projection(s.kernel), projection(s.builtin))
        Map[String, Any]("ns_per_row" -> nsPerRow(pk), "builtin_ns_per_row" -> nsPerRow(pb),
          "agree" -> agree(s, pk, pb))
      } catch {
        case NonFatal(e) => Map[String, Any]("agree" -> false, "err_class" -> e.getClass.getName)
      })
    }.toMap
  }
}

package graft.listing

import graft.listing.FooterStats.cmp
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sound prove-false evaluation of pushed data filters against a
  * file's column ranges ([[ColRange]]). `proveFalse(e, stats)` returns
  * true ONLY when no row of the file can satisfy `e` — the one-sided
  * contract file skipping needs: any unknown shape, unbindable
  * column, or incomparable value degrades to "keep the file", never
  * to a wrong skip.
  *
  * Null semantics make the classic pitfalls safe here: a comparison
  * with a NULL operand is NULL, which a WHERE clause drops, so a
  * range-disjoint proof over non-null min/max covers null rows too.
  * The subtle cases are handled in [[FooterStats.cmp]] instead: NaN
  * (never comparable -> never skipped) and ±0.0 (compare equal, as
  * SQL `=` does).
  */
object StatsPruning {

  type Resolver = (String, String) => Boolean

  def proveFalse(e: Expression, stats: Map[String, ColRange], resolver: Resolver): Boolean = {
    def range(a: Attribute): Option[ColRange] =
      stats.collectFirst { case (n, r) if resolver(n, a.name) => r }

    // predicate never true when the literal is null (result is NULL)
    // or the file holds no non-null values for the column
    def sk(a: Attribute, v: Any)(prove: ColRange => Boolean): Boolean =
      range(a).exists(r => v == null || r.allNulls || prove(r))

    e match {
      case Literal(null, _)             => true
      case Literal(false, BooleanType)  => true
      case And(l, r) => proveFalse(l, stats, resolver) || proveFalse(r, stats, resolver)
      case Or(l, r)  => proveFalse(l, stats, resolver) && proveFalse(r, stats, resolver)

      case EqualTo(a: Attribute, Literal(v, t)) => outside(a, v, t, sk)
      case EqualTo(Literal(v, t), a: Attribute) => outside(a, v, t, sk)
      case EqualNullSafe(a: Attribute, Literal(v, t)) if v != null => outside(a, v, t, sk)
      case EqualNullSafe(Literal(v, t), a: Attribute) if v != null => outside(a, v, t, sk)

      // Max-side proofs ("no row can exceed max") are refused on
      // mayHideNaN ranges: a NaN row hidden behind finite footer
      // bounds satisfies `a > v` / `v < a` under Spark's
      // NaN-is-largest comparisons. Min-side proofs stay — every row
      // including NaN still satisfies `row >= min` — as do the
      // equality/IN shapes in [[outside]] (NaN equals only NaN, and a
      // NaN literal is incomparable in cmp, so it never proves).
      case GreaterThan(a: Attribute, Literal(v, _))        => sk(a, v)(r => !r.mayHideNaN && cmp(r.max, v).exists(_ <= 0))
      case GreaterThan(Literal(v, _), a: Attribute)        => sk(a, v)(r => cmp(r.min, v).exists(_ >= 0))
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => sk(a, v)(r => !r.mayHideNaN && cmp(r.max, v).exists(_ < 0))
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) => sk(a, v)(r => cmp(r.min, v).exists(_ > 0))
      case LessThan(a: Attribute, Literal(v, _))           => sk(a, v)(r => cmp(r.min, v).exists(_ >= 0))
      case LessThan(Literal(v, _), a: Attribute)           => sk(a, v)(r => !r.mayHideNaN && cmp(r.max, v).exists(_ <= 0))
      case LessThanOrEqual(a: Attribute, Literal(v, _))    => sk(a, v)(r => cmp(r.min, v).exists(_ > 0))
      case LessThanOrEqual(Literal(v, _), a: Attribute)    => sk(a, v)(r => !r.mayHideNaN && cmp(r.max, v).exists(_ < 0))

      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.forall { case Literal(v, t) => outside(a, v, t, sk) }
      case InSet(a: Attribute, hset) =>
        hset.forall(v => outside(a, v, a.dataType, sk))

      case StartsWith(a: Attribute, Literal(p: UTF8String, _)) =>
        // s startsWith p  =>  truncate(s, |p|) == p; truncation is
        // monotone, so the file's truncated range must contain p
        sk(a, p) { r =>
          (r.min, r.max) match {
            case (mn: UTF8String, mx: UTF8String) =>
              val n = p.numChars()
              mx.substring(0, n).compareTo(p) < 0 || mn.substring(0, n).compareTo(p) > 0
            case _ => false
          }
        }

      case IsNotNull(a: Attribute) =>
        stats.collectFirst { case (n, r) if resolver(n, a.name) => r }.exists(_.allNulls)
      case IsNull(a: Attribute) =>
        stats.collectFirst { case (n, r) if resolver(n, a.name) => r }.exists(_.noNulls)

      case _ => false
    }
  }

  /** `a = v` is never true: `v` lies outside the range, or hashes to
    * another bucket. The bucket is only computed for a literal of the
    * column's own int, long or string type, the types Iceberg's bucket
    * hash is defined on here.
    */
  private def outside(a: Attribute, v: Any, t: DataType,
      sk: (Attribute, Any) => (ColRange => Boolean) => Boolean): Boolean =
    sk(a, v)(r => cmp(v, r.min).exists(_ < 0) || cmp(v, r.max).exists(_ > 0) ||
      r.bucket.exists { case (n, b) =>
        t == a.dataType && Seq(IntegerType, LongType, StringType).contains(t) && IcebergBucket.of(v, n) != b
      })
}

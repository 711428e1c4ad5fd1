package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.{array_contains, typedLit}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `c IN ids` for a driver-side id set of `c`'s type `t` (Long, Int, Short,
  * Byte or String), with no join and no per-set generated class.
  *
  * The generated code holds the set as a reference object, so every set
  * runs the same class and nothing is broadcast by a job (a broadcast join,
  * even of a local relation, collects its build side in one). A Catalyst
  * `InSet` does that, except that for Int, Short and Byte sets up to
  * `spark.sql.optimizer.inSetSwitchThreshold` values it compiles the ids
  * into a `switch`, one class per set: those sets are a literal array
  * scanned by `array_contains` instead (a few hundred compares at most).
  * `isin` would inline the ids as Java literals either way. Null when `c`
  * is null, like a join key that matches nothing. */
object IdIn {

  def apply(c: Column, ids: Iterable[Any], t: DataType): Column = t match {
    case IntegerType | ShortType | ByteType
        if ids.size <= SQLConf.get.optimizerInSetSwitchThreshold =>
      array_contains(typedLit(ids.iterator.map(_.asInstanceOf[Number].intValue).toArray),
        if (t == IntegerType) c else c.cast(IntegerType))
    case _ =>
      val values: Set[Any] = t match {
        case StringType => ids.iterator.map(v => UTF8String.fromString(v.asInstanceOf[String])).toSet
        case _ => ids.toSet
      }
      graftbridge.toColumn(InSet(graftbridge.toExpression(c), values))
  }
}

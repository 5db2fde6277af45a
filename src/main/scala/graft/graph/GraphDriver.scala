package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Shared guard for the adaptive small-graph DRIVER twins
  * ([[Hits]], [[KCore]], [[PageRank]]; LabelPropagation/Louvain cast
  * their keys to bigint up front and need none of this): collect the
  * materialized edge frame ONLY when JVM semantics will reproduce the
  * distributed rounds bit-for-bit. Returns None — the caller falls
  * back to the distributed path — when:
  *
  *  - the two key columns' types differ (the distributed union
  *    handles the coercion);
  *  - the key type holds BINARY anywhere, also nested in a struct,
  *    array or map (Array[Byte] in JVM maps compares by REFERENCE, so
  *    node dedup and score keying would silently split one node into
  *    many where the SQL value-equality path doesn't);
  *  - the key type holds FLOAT/DOUBLE anywhere, also nested (Spark
  *    normalizes -0.0 to 0.0 in join/group keys, nested fields
  *    included, while boxed Float/Double equality keeps them distinct
  *    — a graph with both zeros as node ids would split one node into
  *    two on the driver; NaN grouping diverges the same way);
  *  - any collected key is NULL (distributed equi-joins DROP
  *    null-keyed edges; a Scala map would happily keep them and
  *    produce extra rows / different sums).
  *
  * The caller's first two columns must be the keys. */
private[graph] object GraphDriver {
  def collectEdges(df: DataFrame): Option[Array[Row]] = {
    val aF = df.schema(0)
    val bF = df.schema(1)
    if (aF.dataType != bF.dataType) return None
    if (holdsInexactKey(aF.dataType)) return None
    val rows = df.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    Some(rows)
  }

  /** FLOAT, DOUBLE or BINARY anywhere inside `t` (Spark's own
    * `DataType.existsRecursively` is private to its package). */
  private def holdsInexactKey(t: DataType): Boolean = t match {
    case BinaryType | FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => holdsInexactKey(f.dataType))
    case a: ArrayType => holdsInexactKey(a.elementType)
    case m: MapType => holdsInexactKey(m.keyType) || holdsInexactKey(m.valueType)
    case _ => false
  }
}

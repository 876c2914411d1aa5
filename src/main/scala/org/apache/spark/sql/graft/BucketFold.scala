package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** A row's bucket ids folded over a per-bucket table, in position
  * order, as one NATIVE codegen loop — the scoring step of the hashed
  * linear models (SURVEY.md §2 C32, C34) over [[HashedFeatures]]'
  * output. Two folds, chosen by the table's kind:
  *
  *  - [[BucketFold.Sum]]: `Σ table[b]` as a long, from 0. Every
  *    addition is `Math.addExact`: overflow raises an error, never
  *    wraps (the ANSI contract, whatever the session's ANSI setting).
  *  - [[BucketFold.Product]]: `Π table[b]` as a double, from 1.0,
  *    multiplied left to right — the same IEEE operations in the same
  *    order as `aggregate(buckets, 1.0D, (acc, b) → acc * table[b])`
  *    and DuckDB's `list_reduce(list(q ORDER BY pos))`, so bit-identical.
  *
  * Semantically identical to `aggregate(buckets, zero, (acc, b) → acc
  * op element_at(table, b + 1))` over a literal array, but the table
  * rides as one reference object (as [[NearestCentroid]]'s codebook
  * and [[BpeApplyLen]]'s merges do) instead of a 4096-element literal
  * the plan carries and the lambda indexes per element. A null array or
  * a null element gives null; an id outside the table raises. The plan
  * string shows the table's kind and size, never its values. */
case class BucketFold(child: Expression, table: BucketFold.Table)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = table.dataType
  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    table match {
      case BucketFold.Sum(t) => BucketFold.sum(arr, t)
      case BucketFold.Product(t) => BucketFold.product(arr, t)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = BucketFold.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val (fn, ref, boxed, unbox) = table match {
      case BucketFold.Sum(t) => ("sum",
        ctx.addReferenceObj("foldTable", t, "long[]"), "java.lang.Long", "longValue")
      case BucketFold.Product(t) => ("product",
        ctx.addReferenceObj("foldTable", t, "double[]"), "java.lang.Double", "doubleValue")
    }
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("fold")
      s"""
         |$boxed $r = $cls.$fn($c, $ref);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.$unbox(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_bucket_fold"
}

object BucketFold {
  /** A per-bucket table; its kind is the fold. Equality is by content,
    * so two structurally equal kernels (built from separate collects)
    * canonicalize together. */
  sealed trait Table {
    def dataType: DataType
  }

  final case class Sum(values: Array[Long]) extends Table {
    def dataType: DataType = LongType
    override def equals(o: Any): Boolean = o match {
      case s: Sum => java.util.Arrays.equals(s.values, values)
      case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(values)
    override def toString: String = s"sum[${values.length}]"
  }

  final case class Product(values: Array[Double]) extends Table {
    def dataType: DataType = DoubleType
    override def equals(o: Any): Boolean = o match {
      case p: Product => java.util.Arrays.equals(p.values, values)
      case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(values)
    override def toString: String = s"product[${values.length}]"
  }

  private def id(arr: ArrayData, i: Int, size: Int): Int = {
    val b = arr.getLong(i)
    if (b < 0 || b >= size)
      throw new IllegalArgumentException(s"bucket $b outside the $size-bucket table")
    b.toInt
  }

  /** Shared by eval and the generated code; null on a null element. */
  def sum(arr: ArrayData, t: Array[Long]): java.lang.Long = {
    var acc = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      acc = Math.addExact(acc, t(id(arr, i, t.length)))
      i += 1
    }
    acc
  }

  def product(arr: ArrayData, t: Array[Double]): java.lang.Double = {
    var acc = 1.0d
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      acc *= t(id(arr, i, t.length))
      i += 1
    }
    acc
  }
}

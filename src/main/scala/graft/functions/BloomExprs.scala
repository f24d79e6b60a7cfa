package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_contains(col)` → boolean: membership probe of a STRING
  * column against a pre-built [[BloomFilter]] (no false negatives,
  * `fpp` false positives). The filter is a referenced object riding
  * the task closure — never a plan literal, so a multi-megabyte filter
  * costs nothing in plan size / Janino time (the NearestCells
  * pattern). Probe encoding matches the sketch library's
  * `putString`/`mightContainString` (UTF-8 bytes), which is what
  * `DataFrameStatFunctions.bloomFilter` inserts for string columns.
  */
case class BloomMightContain(child: Expression, bf: BloomFilter)
  extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_contains"

  override def nullSafeEval(input: Any): Any =
    bf.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bf,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.mightContainBinary($c.getBytes());")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** `bloom_contains_long(col)` → boolean: [[BloomMightContain]]'s LONG
  * sibling, probing with `mightContainLong` — the encoding
  * `DataFrameStatFunctions.bloomFilter` uses when building from an
  * integral column (so build and probe agree bit-for-bit). Used by the
  * winnow prefilter's over-cap count pass over 64-bit gram hashes.
  */
case class BloomMightContainLong(child: Expression, bf: BloomFilter)
  extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_contains_long"

  override def nullSafeEval(input: Any): Any =
    bf.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bf,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

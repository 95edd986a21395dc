package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership probe as a native, codegen'd expression.
  *
  * Spark's built-in runtime bloom filters (`InjectRuntimeFilter`) only
  * fire on equi-join shapes the optimizer recognizes; anti-join
  * key-pruning (insert-ignore, delta detection at warehouse scale) needs
  * an explicit probe. The filter is built once driver-side over the
  * SMALL side's keys (`DataFrameStatFunctions.bloomFilter`), shipped to
  * executors inside the serialized expression, and probed map-side — the
  * big table's scan never shuffles. No false negatives, so a
  * `mightContain` == false row is PROVABLY key-absent; false positives
  * are resolved by an exact follow-up join over the (tiny) candidate set.
  *
  * Keys are pre-hashed to a single long (`xxhash64` over the key
  * columns) so one filter covers composite keys of any type.
  */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // the deserialized filter rides the codegen reference array
    // (BloomFilterImpl is Serializable); one instance per task binary,
    // probed with a plain virtual call inside the generated stage
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.mightContainLong($v);")
  }

  // case-class equality on an Array field is reference equality, which
  // makes semantically identical probes compare unequal and defeats plan
  // canonicalization / common-subexpression reuse — compare contents
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContain =>
      child == b.child &&
        java.util.Arrays.equals(filterBytes, b.filterBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(filterBytes)

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContain = copy(child = newChild)
}

object BloomFns {
  /** Serialize a built filter into probe expressions. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** The rows of `table` whose `tableKeys` might occur among `batch`'s
    * `batchKeys`: a Bloom filter over the batch's xxhash64 key hashes,
    * built once, probes the table's scan map-side. No false
    * negatives, so every true match survives, plus about `fpp` of the
    * rest. xxhash64 is type-sensitive: both key lists must hash the
    * same types. `expectedItems` sizes the filter (any upper bound
    * works) and defaults to a count of `batch`. None when that bound is
    * zero: the batch is empty, nothing can match, and a filter over
    * zero rows cannot be built (`stat.bloomFilter` reads a null
    * buffer and throws). */
  def probe(table: DataFrame, tableKeys: Seq[Column], batch: DataFrame,
            batchKeys: Seq[Column], expectedItems: Option[Long],
            fpp: Double): Option[DataFrame] = {
    val expected = expectedItems.getOrElse(batch.count())
    Option.when(expected > 0) {
      val bf = batch.stat.bloomFilter(xxhash64(batchKeys: _*), expected,
        fpp)
      table.filter(Bridge.column(BloomMightContain(
        Bridge.expression(xxhash64(tableKeys: _*)), serialize(bf))))
    }
  }
}

package graft.vintage.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The function catalog of vintage relations. It serves one function,
  * `bucket(n, col)`: the transform [[VintageNativeScan]] names in the
  * key-grouped partitioning of a bucketed table. Spark resolves a
  * scan's transform only through the function catalog of its relation,
  * so [[VintageCatalog]] mixes this in and path relations (fluent and
  * `format("vintage")` reads) carry [[PathFunctions]].
  */
trait BucketFunctionCatalog extends FunctionCatalog {
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, BucketFunction.name())) else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == BucketFunction.name()) BucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** The function catalog a path relation carries. */
object PathFunctions extends BucketFunctionCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()
  override def name(): String = "vintage"
}

/** `bucket(n, col)` = `pmod(murmur3(col), n)`: Spark's hash partitioning,
  * which the table writer clusters rows by and names each file after.
  */
object BucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): the hash bucket of col among n, pmod(murmur3(col), n)"

  override def bind(input: StructType): BoundFunction =
    if (input.size == 2 && input.head.dataType == IntegerType) new BucketOf(input(1).dataType)
    else throw new UnsupportedOperationException(
      s"bucket takes (INT, one column), got ${input.simpleString}")
}

/** [[BucketFunction]] bound to one key type. The canonical name carries
  * the type, because murmur3 hashes an INT and a BIGINT differently: two
  * sides bucketed on different types do not share a layout.
  */
final class BucketOf(keyType: DataType) extends ScalarFunction[Integer] {
  override def name(): String = BucketFunction.name()
  override def canonicalName(): String = s"vintage.bucket(${keyType.catalogString})"
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable(): Boolean = false

  private lazy val bucket =
    Pmod(new Murmur3Hash(Seq(BoundReference(1, keyType, nullable = true))),
      BoundReference(0, IntegerType, nullable = false))
  override def produceResult(input: InternalRow): Integer =
    bucket.eval(input).asInstanceOf[Int]
}

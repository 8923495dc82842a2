package graft.semantic

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Buffer wrapper: gives List[String] a product encoder. */
case class DocBuf(items: List[String])

/** Semantic reduce as a custom `Aggregator[IN, BUF, OUT]` (SURVEY §2.13:
  * the agg()-syntax integration of A1). The buffer accumulates serialized
  * documents (same state shape as semanticReduce's collect_list, partial
  * aggregation included); the model runs once per group in `finish`, via
  * the same hierarchical fanIn fold ([[SemanticOps.foldLevels]] over one
  * group) — so this composes with any other aggregate in one groupBy/agg
  * pass and registers as a SQL UDAF.
  *
  * Determinism: finish sorts the collected docs, so the fold order (and
  * with it the stub client's output) is independent of partial-aggregation
  * merge order.
  *
  * Accounting: `finish` counts its requests in [[SemanticOps.metrics]] of
  * the session active where the Aggregator is built (every session of one
  * SparkContext shares them), like any other semantic op.
  */
case class SemanticAgg(instruction: String, schemaDdl: String,
                       client: ModelClient, fanIn: Int = 8)
    extends Aggregator[String, DocBuf, String] {
  require(fanIn >= 2, "fanIn < 2 cannot converge")

  private val metrics = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .map(SemanticOps.metrics)

  override def zero: DocBuf = DocBuf(Nil)
  override def reduce(b: DocBuf, doc: String): DocBuf = DocBuf(doc :: b.items)
  override def merge(a: DocBuf, b: DocBuf): DocBuf = DocBuf(a.items ::: b.items)

  override def finish(r: DocBuf): String =
    SemanticOps.foldLevels(IndexedSeq(r.items.sorted), instruction, schemaDdl, client, fanIn,
      n => metrics.foreach(_.request(n))).head

  override def bufferEncoder: Encoder[DocBuf] = Encoders.product[DocBuf]
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

object SemanticAgg {

  /** agg()-syntax column: synthesize one record per group from the given
    * JSON-doc column. Apply `from_json` on the result for typed fields.
    */
  def synthesize(docCol: Column, instruction: String, outputSchema: StructType,
                 client: ModelClient, fanIn: Int = 8): Column =
    udaf(SemanticAgg(instruction, outputSchema.toDDL, client, fanIn),
      Encoders.STRING)(docCol)

  /** Same semantics as SemanticOps.semanticReduce but through the
    * Aggregator: one groupBy/agg pass, composable with other aggregates.
    */
  def semanticReduceAgg(df: DataFrame, keyCols: Seq[String], instruction: String,
                        outputSchema: StructType, client: ModelClient,
                        fanIn: Int = 8): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains)
    df.withColumn("__doc", to_json(struct(payload.map(col): _*)))
      .groupBy(keyCols.map(col): _*)
      .agg(synthesize(col("__doc"), instruction, outputSchema, client, fanIn).as("__resp"))
      .withColumn("__out", from_json(col("__resp"), outputSchema))
      .select((keyCols.map(col) ++
        outputSchema.fieldNames.map(n => col(s"__out.$n").as(n))): _*)
  }

  /** Register as a SQL UDAF: `SELECT <name>(doc) FROM ... GROUP BY ...`. */
  def register(spark: SparkSession, name: String, instruction: String,
               outputSchema: StructType, client: ModelClient, fanIn: Int = 8): Unit =
    spark.udf.register(name,
      udaf(SemanticAgg(instruction, outputSchema.toDDL, client, fanIn), Encoders.STRING))
}

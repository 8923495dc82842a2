package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Chunker
import graft.semantic.{ModelClient, SemanticOps}

/** Lowers a validated PipelineSpec onto DataFrame transformations. The
  * result is a single lazy Spark plan — Catalyst sees through everything
  * deterministic; the semantic ops are opaque mapPartitions islands with
  * declared output schemas on both sides.
  *
  * Dead-lettered rows from every semantic map and judge filter are
  * collected into one channel (K5) returned alongside the result.
  */
object Compiler {
  case class Compiled(result: DataFrame, deadLetter: Option[DataFrame])

  def run(input: DataFrame, spec: PipelineSpec, client: ModelClient): Compiled = {
    Validator.validate(spec)
    var df = input
    var dead: Option[DataFrame] = None
    def addDead(d: DataFrame): Unit = {
      val tagged = d.select(to_json(struct(d.columns.map(col): _*)).as("record"),
        col("__error").as("error"))
      dead = Some(dead.map(_.unionByName(tagged)).getOrElse(tagged))
    }

    spec.ops.foreach {
      case s: SplitOp =>
        df = Chunker.split(df, s.textCol, s.chunkSize, s.overlap, neighbors = s.neighbors)
      case m: MapOp =>
        val r = SemanticOps.semanticMap(df, m.prompt, SchemaCompiler.toStruct(m.output),
          client, m.validations, m.retries)
        addDead(r.dead)
        df = r.ok
      case r: ReduceOp =>
        df = SemanticOps.semanticReduce(df, r.keys, r.prompt,
          SchemaCompiler.toStruct(r.output), client, r.fanIn)
      case f: FilterOp =>
        df = df.filter(expr(f.predicate))
      case j: JudgeFilterOp =>
        val r = SemanticOps.semanticFilter(df, j.criteria, client)
        addDead(r.dead)
        df = r.ok
    }
    Compiled(df, dead)
  }
}

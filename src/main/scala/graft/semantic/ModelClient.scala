package graft.semantic

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.types._

/** Boundary for LLM calls (SURVEY.md §2.11). The engine only ever talks to
  * this trait; the real network client is configuration. Implementations
  * must be Serializable — they ship to executors inside mapPartitions
  * closures. `completeBatch` is the hot path (per-partition batching, the
  * analog of the reference's declared-but-unwired BATCH_SIZE, SURVEY §4.1).
  *
  * Response caching: implementations may memoize on (prompt, schema) —
  * the reference caches LLM responses by content (zara_hybrid_etl.py:43,63).
  *
  * Threads: `complete` and `completeBatch` may be called from several
  * threads of one task at once — the semantic ops keep several requests
  * in flight per task — so an implementation must be safe under concurrent
  * calls. `StubModelClient` is (a pure function of its input, its schema
  * cache a ConcurrentHashMap), and so is `HttpModelClient` (the JDK
  * HttpClient and a Jackson mapper, both shareable across threads).
  */
trait ModelClient extends Serializable {
  def complete(prompt: String, schemaDdl: String): String
  def completeBatch(prompts: Seq[String], schemaDdl: String): Seq[String] =
    prompts.map(complete(_, schemaDdl))
}

/** Deterministic, schema-faithful stub client (the only runnable client in
  * this zero-egress environment; also what the tests pin — SURVEY §5.2).
  *
  * Produces valid JSON matching the requested output schema. Every value is
  * a pure function of (prompt, field path, seed): string fields sample words
  * from the prompt (so downstream content derives from upstream input, like
  * a real extraction), numbers/booleans come from the hash. Re-prompting
  * with a different attempt salt changes the output — which is what makes
  * the bounded validate-retry loop exercisable offline.
  */
class StubModelClient(seed: Long = 42L) extends ModelClient {

  // DDL parsing goes through the full ANTLR SQL parser — memoize it, the
  // same schema arrives with every call in a pipeline stage.
  @transient private lazy val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  override def complete(prompt: String, schemaDdl: String): String = {
    val schema = schemaCache.computeIfAbsent(schemaDdl, StructType.fromDDL(_))
    val words = prompt.split("\\s+").filter(w => w.nonEmpty && w.length < 40)
    val s0 = mix(seed, prompt)
    genStruct(schema, "", s0, if (words.isEmpty) Array("empty") else words)
  }

  private def mix(s: Long, p: String): Long =
    ((s * 1000003L) ^ MurmurHash3.stringHash(p).toLong) & 0x7fffffffffffffL

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  private def pickWords(s: Long, words: Array[String], n: Int): String = {
    val start = (s % words.length).toInt
    (0 until n).map(i => words((start + i) % words.length)).mkString(" ")
  }

  private def genStruct(st: StructType, path: String, s: Long, words: Array[String]): String =
    st.fields.map { f =>
      val fp = s"$path.${f.name}"
      s""""${esc(f.name)}": ${genValue(f.dataType, fp, mix(s, fp), words)}"""
    }.mkString("{", ", ", "}")

  private def genValue(dt: DataType, path: String, s: Long, words: Array[String]): String = dt match {
    case StringType =>
      "\"" + esc(pickWords(s, words, 3 + (s % 6).toInt)) + "\""
    case DoubleType | FloatType => ((s % 1000).toDouble / 1000.0).toString
    case LongType | IntegerType => (s % 1000).toString
    case BooleanType            => (s % 2 == 0).toString
    case ArrayType(et, _) =>
      val n = 2 + (s % 3).toInt
      (0 until n).map(i => genValue(et, s"$path[$i]", mix(s, i.toString), words))
        .mkString("[", ", ", "]")
    case nested: StructType => genStruct(nested, path, s, words)
    case _: MapType =>
      s"""{"${esc(pickWords(s, words, 1))}": "${esc(pickWords(mix(s, "v"), words, 2))}"}"""
    case other =>
      throw new IllegalArgumentException(s"stub cannot generate $other at $path")
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Cdc

/** A processor is a total transform over a CDC-shaped DataFrame.
  *
  * The reference's processor SDK returns one of SingleRecord /
  * FilterRecord / ErrorRecord / MultiRecord per input record
  * (dispatch at reference `pkg/lifecycle-poc/funnel/processor.go:147-161`).
  * In Spark these collapse into a declarative `DataFrame => DataFrame`
  * where: transforms are column rewrites, filters are `Filter` nodes,
  * errors set the `_error` column (routed to the DLQ by the runner),
  * and multi-records are `explode`s. Catalyst then fuses the whole
  * processor chain into one whole-stage-codegen'd pass — the reference
  * runs one goroutine per processor, we run zero extra passes.
  */
trait Processor extends Serializable {
  def plugin: String
  /** Unconditional transform. Must preserve the CDC schema (plus the
    * optional `_error` column) and never throw on bad data.
    */
  def transform(df: DataFrame): DataFrame

  /** Conditional application (reference per-processor `condition`,
    * `pkg/processor/processor_condition.go:29-63`): records failing the
    * condition bypass untouched. Default = split/union; column-rewrite
    * processors override with a cheaper `when(cond, new).otherwise(old)`.
    */
  def transformConditional(df: DataFrame, cond: Column): DataFrame = {
    val base = Cdc.withErrorChannel(df)
    val hit = transform(base.filter(coalesce(cond, lit(false))))
    val miss = base.filter(!coalesce(cond, lit(false)))
    Cdc.withErrorChannel(hit).unionByName(Cdc.withErrorChannel(miss))
  }

  final def apply(df: DataFrame, condition: Option[String] = None): DataFrame =
    condition match {
      case None => transform(df)
      case Some(c) =>
        transformConditional(df, Conditions.compile(c, Conditions.typedSlots(df)))
    }
}

object Processor {
  /** The processor `plugin` whose transform is `f`. Given a `batchOnly`
    * reason, it rejects a streaming frame with that reason instead of
    * Spark's opaque streaming AnalysisException from deep in the plan.
    */
  def apply(plugin: String, batchOnly: String = "")(
      f: DataFrame => DataFrame): Processor = new Fn(plugin, batchOnly, f)

  private final class Fn(val plugin: String, batchOnly: String,
                         f: DataFrame => DataFrame) extends Processor {
    override def transform(df: DataFrame): DataFrame = {
      require(batchOnly.isEmpty || !df.isStreaming, s"$plugin is batch-only " +
        s"($batchOnly); run the pipeline with --batch or apply it foreachBatch")
      f(df)
    }
  }
}

/** Record-local column-rewrite processor (SingleRecord semantics). */
trait ColumnProcessor extends Processor {
  /** Column rewrites; key = CDC column name. */
  def rewrites(df: DataFrame): Map[String, Column]

  /** Expensive shared subexpressions, materialized in their own
    * projection before `rewrites` runs. A struct expression referenced
    * by two rewrites (value + `_error`) would otherwise be COPIED into
    * both trees and evaluated twice per row — multi-referenced
    * non-cheap aliases are exactly what CollapseProject refuses to
    * inline, so this splits the evaluation into one pass.
    */
  def tempColumns(df: DataFrame): Map[String, Column] = Map.empty

  override def transform(df: DataFrame): DataFrame = {
    val tmp = tempColumns(df)
    val rw = rewrites(df)
    val base0 = if (rw.contains(Cdc.Error)) Cdc.withErrorChannel(df) else df
    val base = if (tmp.isEmpty) base0 else base0.withColumns(tmp)
    base.withColumns(rw).drop(tmp.keys.toSeq: _*)
  }
  override def transformConditional(df: DataFrame, cond: Column): DataFrame = {
    val tmp = tempColumns(df)
    val rw = rewrites(df)
    val base0 = if (rw.contains(Cdc.Error)) Cdc.withErrorChannel(df) else df
    val base = if (tmp.isEmpty) base0 else base0.withColumns(tmp)
    val gated = rw.map { case (name, c) =>
      name -> when(coalesce(cond, lit(false)), c).otherwise(col(name))
    }
    base.withColumns(gated).drop(tmp.keys.toSeq: _*)
  }
}

object ColumnProcessor {
  /** The column processor `plugin` with rewrites `f` and temp columns
    * `temp`. */
  def apply(plugin: String,
            temp: DataFrame => Map[String, Column] = _ => Map.empty)(
      f: DataFrame => Map[String, Column]): ColumnProcessor = new Fn(plugin, temp, f)

  private final class Fn(val plugin: String, temp: DataFrame => Map[String, Column],
                         f: DataFrame => Map[String, Column]) extends ColumnProcessor {
    override def tempColumns(df: DataFrame): Map[String, Column] = temp(df)
    override def rewrites(df: DataFrame): Map[String, Column] = f(df)
  }
}

/** Compiles reference-style condition / value templates to Columns.
  *
  * The reference evaluates Go `text/template` against the record
  * (`pkg/processor/processor_condition.go:29-63`). We deliberately do
  * not re-implement Go templates (SURVEY §1.5): the expression surface
  * is Spark SQL, with reference-style field tokens (`.Metadata.foo`,
  * `.Payload.After.x`, `.Operation`, `.Key.id`) rewritten to column
  * expressions, plus the two prefix comparators (`eq`/`ne`) the
  * reference's own examples use.
  */
object Conditions {
  private val token = """\.(?:Payload\.(?:After|Before)|Metadata|Key|Operation|Position)(?:\.[A-Za-z_][A-Za-z0-9_.]*)?""".r

  /** Slots of `df` carrying typed (struct) data, with their schemas —
    * their tokens compile to native struct field access instead of
    * `get_json_object`, which is both the typed fast path and required
    * for correctness (JSON functions reject struct inputs). The schema
    * lets the compiler resolve ABSENT paths to null at plan time, so a
    * condition on a missing field degrades to false per record (the
    * JSON path / reference template behavior) instead of failing
    * analysis.
    */
  def typedSlots(df: DataFrame): Map[String, org.apache.spark.sql.types.StructType] =
    Seq(Cdc.Key, Cdc.PayloadBefore, Cdc.PayloadAfter)
      .filter(s => Cdc.isTypedSlot(df, s))
      .map(s => s -> df.schema(s).dataType.asInstanceOf[org.apache.spark.sql.types.StructType])
      .toMap

  /** Rewrite reference field tokens into Spark SQL fragments. */
  def rewriteTokens(s: String,
      typed: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): String =
    token.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(tokenToSql(m.matched, typed)))

  private def bt(parts: Seq[String]): String =
    parts.map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  private def tokenToSql(t: String,
      typed: Map[String, org.apache.spark.sql.types.StructType]): String = {
    import graft.model.Ref._
    def slotPath(slot: String, rest: Seq[String]): String =
      if (rest.isEmpty) slot
      else typed.get(slot) match {
        case Some(schema) =>
          // absent path (or one through a scalar intermediate) → null,
          // so conditions degrade to false instead of AnalysisException
          if (StructOps.has(schema, rest)) s"$slot.${bt(rest)}"
          else "CAST(NULL AS STRING)"
        case None => s"get_json_object($slot, '$$.${rest.mkString(".")}')"
      }
    graft.model.Ref.parse(t) match {
      case OperationRef => "operation"
      case PositionRef => "position"
      case MetadataRef(Seq()) => "metadata"
      case MetadataRef(Seq(k)) => s"metadata['$k']"
      case MetadataRef(_) => "metadata"
      case KeyRef(rest) => slotPath("key", rest)
      case PayloadBeforeRef(rest) => slotPath("payload_before", rest)
      case PayloadAfterRef(rest) => slotPath("payload_after", rest)
      case PayloadRef => "payload_after" // token grammar never emits bare .Payload
    }
  }

  private val goPrefixCmp = """^\s*(eq|ne)\s+(\S+)\s+(.+?)\s*$""".r
  // Go template `index .Metadata "k"` — the reference kafka
  // destination's default topic template (metadata map lookup)
  private val goIndexMeta = """^\s*index\s+\.Metadata\s+"([^"]+)"\s*$""".r

  // ---- sprig-style template pipelines ---------------------------------
  // The reference injects sprig's FuncMap into every template site
  // (field.set values, error messages, webhook URL/body — reference
  // `impl/field/set.go:76`, `impl/error.go:74`, `impl/webhook/http.go:
  // 159,183`). We compile the common pipeline vocabulary to Spark SQL:
  // Go semantics, Catalyst execution — `{{ .Payload.After.name |
  // upper | trunc 8 }}` stays inside whole-stage codegen. A pipeline
  // appends the piped value as the LAST argument of the next call
  // (text/template's rule), and an unrecognized head falls back to
  // plain SQL so bare expressions with `||` etc. keep working.

  /** Split on top-level single `|` (not `||`), respecting quotes. */
  private def splitPipes(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { cur.append(c); if (c == '"') inQ = false }
      else c match {
        case '"' => cur.append(c); inQ = true
        case '|' if i + 1 < s.length && s.charAt(i + 1) == '|' =>
          cur.append("||"); i += 1
        case '|' => out += cur.result(); cur.clear()
        case other => cur.append(other)
      }
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Split a call on whitespace, respecting double-quoted strings. */
  private def splitArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { cur.append(c); if (c == '"') inQ = false }
      else if (c == '"') { cur.append(c); inQ = true }
      else if (c.isWhitespace) {
        if (cur.nonEmpty) { out += cur.result(); cur.clear() }
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) out += cur.result()
    out.result()
  }

  /** One pipeline argument to SQL: quoted string → string literal,
    * field token → column path, anything else (numbers, SQL) as-is. */
  private def argToSql(a: String,
      typed: Map[String, org.apache.spark.sql.types.StructType]): String =
    if (a.length >= 2 && a.head == '"' && a.last == '"')
      "'" + a.substring(1, a.length - 1).replace("'", "''") + "'"
    else rewriteTokens(a, typed)

  /** The supported sprig/text-template vocabulary: function name →
    * SQL builder over the full argument list (piped value last). */
  private def sprigCall(f: String, args: Seq[String]): Option[String] = {
    def x = args.last
    (f, args.length) match {
      case ("upper", 1) => Some(s"upper($x)")
      case ("lower", 1) => Some(s"lower($x)")
      case ("trim", 1) => Some(s"trim($x)")
      case ("title", 1) => Some(s"initcap($x)")
      case ("quote", 1) => Some(s"concat('\"', $x, '\"')")
      case ("squote", 1) => Some(s"concat('''', $x, '''')")
      case ("len", 1) => Some(s"length($x)")
      case ("b64enc", 1) => Some(s"base64(cast($x AS BINARY))")
      case ("b64dec", 1) => Some(s"cast(unbase64($x) AS STRING)")
      case ("sha1sum", 1) => Some(s"sha1($x)")
      case ("sha256sum", 1) => Some(s"sha2($x, 256)")
      case ("nospace", 1) => Some(s"replace($x, ' ', '')")
      // default "d" x — sprig returns d when x is empty/null
      case ("default", 2) =>
        Some(s"CASE WHEN $x IS NULL OR $x = '' THEN ${args(0)} ELSE $x END")
      // trunc n x — first n chars (positive counts only)
      case ("trunc", 2) => Some(s"substring($x, 1, ${args(0)})")
      // abbrev n x — truncate to n INCLUDING the trailing ellipsis
      case ("abbrev", 2) =>
        Some(s"CASE WHEN length($x) > ${args(0)} THEN concat(substring($x, 1, ${args(0)} - 3), '...') ELSE $x END")
      // substr start end x — character slice [start, end)
      case ("substr", 3) =>
        Some(s"substring($x, ${args(0)} + 1, ${args(1)} - ${args(0)})")
      // replace old new x
      case ("replace", 3) => Some(s"replace($x, ${args(0)}, ${args(1)})")
      // printf "fmt" a b ... — Go verbs; %v renders like %s
      case ("printf", n) if n >= 1 =>
        Some(s"format_string(${(args.head.replace("%v", "%s") +: args.tail).mkString(", ")})")
      case _ => None
    }
  }

  /** A pipeline stage (`f a1 a2` + piped SQL, or a bare first stage)
    * to SQL; None = unknown function, caller falls back to plain SQL. */
  private def stageToSql(stage: String, piped: Option[String],
      typed: Map[String, org.apache.spark.sql.types.StructType]): Option[String] = {
    val parts = splitArgs(stage)
    parts.headOption match {
      case Some(f) if f.forall(c => c.isLetterOrDigit) && (parts.length > 1 || piped.nonEmpty) =>
        sprigCall(f, parts.tail.map(argToSql(_, typed)) ++ piped)
      case _ if piped.isEmpty && parts.nonEmpty =>
        Some(rewriteTokens(stage, typed)) // bare head expression
      case _ => None
    }
  }

  /** One `{{ ... }}` body (or bare SQL) to a SQL fragment. */
  private def bodyToSql(body: String,
      typed: Map[String, org.apache.spark.sql.types.StructType]): String = body.trim match {
    case goIndexMeta(k) => s"metadata['${k.replace("'", "''")}']"
    case goPrefixCmp(op, a, b)
        if !a.contains("|") && !b.contains("|") =>
      val sql = if (op == "eq") "=" else "<>"
      s"(${rewriteTokens(a, typed)} $sql ${rewriteTokens(b, typed)})"
    case other =>
      val stages = splitPipes(other)
      val piped = stages.tail.foldLeft(stageToSql(stages.head, None, typed)) {
        (acc, stage) => acc.flatMap(x => stageToSql(stage, Some(x), typed))
      }
      piped.getOrElse(rewriteTokens(other, typed))
  }

  /** Condition string → boolean Column. Accepts `{{ expr }}` (reference
    * style) or a bare Spark SQL boolean expression.
    */
  def compile(condition: String,
      typed: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): Column = {
    val body = condition.trim match {
      case s if s.startsWith("{{") && s.endsWith("}}") => s.drop(2).dropRight(2)
      case s => s
    }
    expr(bodyToSql(body, typed)).cast("boolean")
  }

  private val tmpl = """\{\{(.*?)\}\}""".r

  /** Value template → string Column: literal text with embedded
    * `{{ expr }}` segments (reference `field/set.go:49-51`). Booleans
    * and numbers render via Spark's string cast ("true"/"false", etc.).
    */
  def template(value: String,
      typed: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): Column = {
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    for (m <- tmpl.findAllMatchIn(value)) {
      if (m.start > last) pieces += lit(value.substring(last, m.start))
      pieces += expr(bodyToSql(m.group(1), typed)).cast("string")
      last = m.end
    }
    if (last < value.length) pieces += lit(value.substring(last))
    if (pieces.isEmpty) lit("")
    else if (pieces.size == 1) pieces.head
    else concat_ws("", pieces.toSeq: _*)
  }
}

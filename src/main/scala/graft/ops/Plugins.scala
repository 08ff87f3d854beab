package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}

import graft.model.{Cdc, Ref}
import Registry.Setting

/** What the analytics plugin entries are declared with: setting rows,
  * the example field refs, payload field reads, and the processor
  * shapes. Each analytics plugin takes one of three shapes:
  *  - a batch RESHAPE ([[reshape]]) computes an analytic table from
  *    payload fields, and each of its rows re-enters the CDC surface as
  *    a create record in the plugin's collection ([[Cdc.wrap]]) — run
  *    it as the last processor before a sink;
  *  - a metadata ANNOTATOR ([[annotate]]) writes metadata keys
  *    row-locally and keeps the CDC schema, so it composes mid-chain
  *    and pairs with a `filter` condition on the keys;
  *  - a FILTER or in-place REWRITE ([[Processor.apply]]) drops records
  *    or rewrites a payload field ([[writeField]]) and passes the CDC
  *    schema through.
  *
  * Nothing here reads a value of [[Registry]]: the family objects are
  * initialized while `Registry.entries` is, and would read it as null.
  */
object Plugins {
  def req(name: String, example: String, doc: String = ""): Setting =
    Setting(name, required = true, example, doc)
  def opt(name: String, default: String, doc: String = ""): Setting =
    Setting(name, required = false, default, doc)

  // common example field refs (the OpenCDC record path vocabulary)
  val Id = ".Payload.After.doc_id"
  val Vec = ".Payload.After.embedding"
  val Src = ".Payload.After.src"
  val Dst = ".Payload.After.dst"
  val After = ".Payload.After"
  val Lang = ".Payload.After.lang"
  val Tokens = ".Payload.After.n_tokens"

  /** Read a payload field as a string column, typed or JSON slot. */
  def fieldCol(df: DataFrame, ref: Ref): Column = {
    val slot = RefCols.column(ref)
    df.schema(slot).dataType match {
      case _: StructType =>
        StructOps.get(col(slot), ref.sub).cast("string")
      case _ => RefCols.get(ref)
    }
  }

  /** ANSI-safe numeric read: non-numeric strings become null instead
    * of a runtime cast error. */
  def asLong(c: Column): Column =
    when(c.rlike("^-?[0-9]{1,18}$"), c.cast("long"))

  /** Parse a payload field as an embedding vector. Typed payloads cast
    * the array slot through its string rendering, JSON payloads carry
    * the array natively — `from_json` handles both. */
  def vecCol(df: DataFrame, ref: Ref): Column =
    from_json(fieldCol(df, ref), ArrayType(DoubleType))

  /** Each ref paired with its last path segment (`default` for a whole
    * slot), the column name it flattens to. */
  def named(refs: Seq[Ref], default: String): Seq[(Ref, String)] =
    refs.map(r => r -> r.sub.lastOption.getOrElse(default))

  /** The batch flattened to `fieldCol(df, ref).as(name)` per field,
    * then `extra`. */
  def flat(df: DataFrame, fields: Seq[(Ref, String)], extra: Column*): DataFrame =
    df.select(fields.map { case (r, n) => fieldCol(df, r).as(n) } ++ extra: _*)

  /** The batch as (`_id`, `_text`) documents. */
  def docs(df: DataFrame, id: Ref, text: Ref): DataFrame =
    flat(df, Seq(id -> "_id", text -> "_text"))

  /** The batch as (`_id`, `_vec`) embeddings; a record without a
    * parseable vector is none. */
  def vectors(df: DataFrame, id: Ref, vec: Ref): DataFrame =
    flat(df, Seq(id -> "_id"), vecCol(df, vec).as("_vec")).filter(col("_vec").isNotNull)

  /** `df` with payload field `ref` set to `v`: a struct op on a typed
    * slot, a JSON rewrite otherwise. */
  def writeField(df: DataFrame, ref: Ref, v: Column): DataFrame = {
    val slot = RefCols.column(ref)
    df.withColumn(slot, df.schema(slot).dataType match {
      case st: StructType => StructOps.set(col(slot), st, ref.sub, v)
      case _ => graft.functions.JsonExpressions.jsonSet(col(slot), ref.sub, v)
    })
  }

  /** A batch reshape: `f` computes the table, keyed by its column
    * `key` — or, given `parts`, by a new `key` column joining those
    * columns with `|`. */
  def reshape(plugin: String, key: String, parts: String*)(
      f: DataFrame => DataFrame): Processor = reshapeBatch(plugin, "", key, parts: _*)(f)

  /** [[reshape]] for a table that needs the whole batch at once:
    * `reason` says why. */
  def reshapeBatch(plugin: String, reason: String, key: String, parts: String*)(
      f: DataFrame => DataFrame): Processor =
    Processor(plugin, reason) { df =>
      val out = f(df)
      Cdc.wrap(if (parts.isEmpty) out
        else out.withColumn(key, concat_ws("|", parts.map(col): _*)), key, plugin)
    }

  /** A metadata annotator writing the `(key, value)` pairs of `f` in
    * order; `temp` materializes shared subexpressions once per row
    * ([[ColumnProcessor.tempColumns]]). */
  def annotate(plugin: String,
               temp: DataFrame => Map[String, Column] = _ => Map.empty)(
      f: DataFrame => Seq[(String, Column)]): Processor =
    ColumnProcessor(plugin, temp) { df =>
      Map(Cdc.Metadata -> f(df).foldLeft(col(Cdc.Metadata)) {
        case (m, (k, v)) => RefCols.metaSet(m, k, v)
      })
    }
}

package graft.ops

import org.apache.spark.sql.DataFrame

import graft.model.Ref

/** Schema decode/encode middleware (reference
  * `pkg/plugin/processor/builtin/registry.go:230-234`): every processor
  * is transparently wrapped so Avro-encoded key/payload are decoded to
  * structured data before `Process` and re-encoded after, controlled by
  * `sdk.schema.decode.{key,payload}.enabled` /
  * `sdk.schema.encode.{key,payload}.enabled` (default true, reference
  * spec defaults). The schema comes from `sdk.schema.avro` +
  * `sdk.schema.id` settings (inline `preRegistered`) or is resolved
  * live from a Confluent-compatible registry via
  * `sdk.schema.registry.url` + `sdk.schema.subject`/`sdk.schema.id`
  * ([[SchemaRegistry]], cached driver-side).
  */
object SchemaMiddleware {
  /** Test seam for the registry transport. */
  @volatile var registryTransport: HttpTransport = HttpTransport.Default

  def wrap(inner: Processor, settings: Map[String, String]): Processor = {
    def parsed[A](key: String, kind: String, v: String)(f: String => A): A =
      Registry.Settings.parse(inner.plugin, key, kind, v)(f)
    def idOf(v: String) = parsed("sdk.schema.id", "an integer", v)(_.toInt)
    def enabled(key: String) =
      parsed(key, "true or false", settings.getOrElse(key, "true"))(_.toBoolean)
    val resolved = settings.get("sdk.schema.avro") match {
      case Some(schema) => Some((idOf(settings.getOrElse("sdk.schema.id", "1")), schema))
      case None => settings.get("sdk.schema.registry.url").map { url =>
        SchemaRegistry.resolve(url, settings.get("sdk.schema.subject"),
          settings.get("sdk.schema.id").map(idOf), registryTransport)
      }
    }
    resolved match {
      case None => inner
      case Some((schemaId, schema)) =>
        val decodePayload = enabled("sdk.schema.decode.payload.enabled")
        val encodePayload = enabled("sdk.schema.encode.payload.enabled")
        val decodeKey = enabled("sdk.schema.decode.key.enabled")
        val encodeKey = enabled("sdk.schema.encode.key.enabled")
        new Processor {
          val plugin: String = inner.plugin
          override def transform(df: DataFrame): DataFrame = {
            var cur = df
            if (decodePayload)
              cur = AvroDecode(Ref.parse(".Payload.After"), schema).transform(cur)
            if (decodeKey)
              cur = AvroDecode(Ref.parse(".Key"), schema).transform(cur)
            cur = inner.transform(cur)
            if (encodeKey)
              cur = AvroEncode(Ref.parse(".Key"), schema, schemaId).transform(cur)
            if (encodePayload)
              cur = AvroEncode(Ref.parse(".Payload.After"), schema, schemaId).transform(cur)
            cur
          }
        }
    }
  }
}

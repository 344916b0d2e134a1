package graft

/** Typed mirror of the reference's YAML query surface
  * (`ingester/annotations_indexer.py:18-49`, `config/config.yml:1-73`),
  * holding the fields [[graft.streaming.IngestJob]] reads, with the
  * reference's config quirks fixed:
  *
  *  - the already-processed check (F2, `skip-processed-doc-check`, whose
  *    `true` ENABLES the check in the reference: `annotations_indexer.py:252`
  *    vs `README.md:86`) is not a flag here: the job's checkpoint and
  *    watermark dedup always apply it, so the F3 polarity bug has no field
  *    to live in;
  *  - the date range is half-open `[dateStart, dateEnd)` (the reference's
  *    inclusive ends double-process boundary days,
  *    `annotations_indexer.py:847-857`), and one catch-up run covers it
  *    instead of a loop of `interval` segments; a checkpoint keeps the
  *    range it started with;
  *  - the short-text minimum is the reference's constant
  *    (`AnnotationPipeline.MinTextLen`), not a setting.
  */
final case class PipelineConfig(
    // source (config.yml:3-24)
    sourcePath: String,
    textField: String = "text",            // config.yml:53 'document'
    docIdField: String = "doc_id",         // config.yml:54 '_id'
    dateField: String = "dct",             // config.yml:58
    // batching (config.yml:57-64)
    dateStart: Option[String] = None,
    dateEnd: Option[String] = None,
    // projection (config.yml:55-56, 66-70)
    persistFields: Seq[String] = Seq("doc_id"),
    splitIndexByField: Option[String] = None, // config.yml:66
    useNestedObjects: Boolean = false,        // config.yml:67
    // sink (config.yml:41-50): a parquet path or http(s)://host:port/<index>
    sinkPath: String = "")

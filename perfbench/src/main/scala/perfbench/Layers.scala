package perfbench

import graft.model.{CdcSchema, TableId}
import graft.operators.{Changelog, Transform, TransformRule}
import graft.sources.DebeziumJson
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Per-layer self time of the CDC read path, from cumulative prefixes of one
  * sampled batch forced through the no-op sink: scan, + `tableOf`, +
  * `parse`, + `Transform.applyRules`, + `Changelog.materialize`. Each
  * layer's self time is the difference between consecutive prefixes (best
  * of two runs each, floored at zero).
  */
object Layers {
  def prefixes(batch: DataFrame, src: TableId, schema: CdcSchema,
               rules: Seq[TransformRule], sinkPks: Seq[String], events: Long): Map[String, Double] = {
    val tagged = DebeziumJson.tableOf(batch)
    val parsed = DebeziumJson.parse(
      tagged.where(col("__db") === src.schemaName && col("__table") === src.tableName),
      schema.struct, primaryKeys = schema.primaryKeys).drop("__db", "__table")
    val transformed = Transform.applyRules(parsed, src, rules,
      opColumn = Some(Changelog.OpCol), passthrough = Seq(Changelog.OpCol, Changelog.SeqCol))
    val materialized = Changelog.materialize(transformed, sinkPks)
    val times = Seq(batch, tagged, parsed, transformed, materialized)
      .map(df => math.min(Trace.noop(df), Trace.noop(df)))
    val self = times.sliding(2).map { case Seq(a, b) => math.max(0.0, b - a) }.toSeq
    Map(
      "sources.tag_s" -> self(0),
      "sources.decode_s" -> self(1),
      "operators.transform_s" -> self(2),
      "operators.materialize_s" -> self(3),
      "sources.rows_per_event" -> parsed.count().toDouble / math.max(1L, events))
  }
}

package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

/** The reference's read-API response envelope
  * (ref: backend/utils.py:166 success, :169 error):
  * `{"status":"success","data":[...],"message":"成功从表 '<t>' 读取 <n> 行数据"}`.
  *
  * This is the EDGE of the engine (SURVEY §2 A4 row materialization):
  * the bounded collect happens here and only here — everything upstream
  * stays a lazy plan. `limit` caps the materialized rows the same way
  * any sane API tier would; the message reports the materialized count,
  * matching the reference's len(results).
  */
object ApiEnvelope {

  /** The engine's one JSON string quoter: escapes backslash, quote and
    * ALL control chars (< 0x20) — a tab or CR left raw makes `json.load`
    * fail on the whole document. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Success envelope: rows serialize via Spark's own JSON encoder (one
    * object per row, schema-faithful types), bounded by `limit`. The
    * encoding runs inside the plan (`to_json` of the whole row), so maps
    * keep their stored key order and the limit sits at the root, where
    * Spark plans it as `CollectLimit`/`TakeOrderedAndProject` instead of
    * gathering every partition first. */
  def read(df: DataFrame, tableName: String, limit: Int = 10000): String = {
    val rows = df.select(to_json(struct(col("*")))).limit(limit)
      .collect().map(_.getString(0)) // A4 edge: the one collect
    s"""{"status":"success","data":[${rows.mkString(",")}],""" +
      s""""message":${jsonString(s"成功从表 '$tableName' 读取 ${rows.length} 行数据")}}"""
  }

  /** Error envelope (ref utils.py:169). */
  def error(e: Throwable): String =
    s"""{"status":"error","message":${jsonString(s"读取数据失败: ${e.getMessage}")}}"""
}

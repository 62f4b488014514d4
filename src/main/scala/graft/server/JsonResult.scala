package graft.server

import org.apache.spark.sql.DataFrame

import graft.sources.Sinks

/** Web-result serialization (reference SURVEY.md §2.1 S7): every value
  * marshals as a string (reference value.go:502-508), rows clipped to
  * showLimit = 20000 / n_output_cols for the browser
  * (reference evaluator.go:27, server.go:160-177), with the Clipped
  * flag set when truncation happened. */
object JsonResult {

  final case class SingleResult(
      numrows: Long, showLimit: Int, numcols: Int,
      colnames: Seq[String], types: Seq[String],
      vals: Seq[Seq[String]], clipped: Boolean, query: String)

  def of(df: DataFrame, query: String): SingleResult = {
    val cols = df.columns.toSeq
    val showLimit = math.max(1, 20000 / math.max(1, cols.size))
    val formatted = Sinks.formatted(df)
    val rows = formatted.limit(showLimit + 1).collect()
    val clipped = rows.length > showLimit
    val keep = rows.take(showLimit).map { r =>
      cols.indices.map(i => if (r.isNullAt(i)) "" else r.getString(i))
    }.toSeq
    SingleResult(keep.size.toLong, showLimit, cols.size, cols,
      df.schema.fields.map(_.dataType.typeName).toSeq, keep, clipped, query)
  }

  private[graft] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jstr(s: String): String = "\"" + esc(s) + "\""

  def toJson(r: SingleResult): String = {
    val vals = r.vals.map(_.map(jstr).mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""{"Numrows":${r.numrows},"ShowLimit":${r.showLimit},"Numcols":${r.numcols},""" +
      s""""Colnames":${r.colnames.map(jstr).mkString("[", ",", "]")},""" +
      s""""Types":${r.types.map(jstr).mkString("[", ",", "]")},""" +
      s""""Vals":$vals,"Clipped":${r.clipped},"Query":${jstr(r.query)}}"""
  }

  /** Multi-statement bundle (reference ReturnData, utils.go:611-617).
    * SavedPaths lists where each statement's result landed when the
    * request carried a savePath (reference FileIO/SavePath,
    * main.go:124-131). */
  def bundle(results: Seq[SingleResult], status: String,
      saved: Seq[String] = Nil): String =
    s"""{"Status":${jstr(status)},"Clipped":${results.exists(_.clipped)},""" +
      s""""SavedPaths":${saved.map(jstr).mkString("[", ",", "]")},""" +
      s""""Entries":${results.map(toJson).mkString("[", ",", "]")}}"""
}

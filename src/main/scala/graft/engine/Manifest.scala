package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The manifest *query* of `new_file_check.py:15-45` as a relational
  * anti-join (J7): which candidate periods does a manifest cover.
  *
  * The pipeline's persisted manifest is [[builders.StatusData]] (one
  * row per year holding its last loaded month, replace semantics —
  * `update_status_data.py`). [[covers]] is the one coverage rule over
  * that row shape: the pipeline's per-archive skip
  * ([[builders.StatusData.alreadyLoaded]]) and this set-difference
  * operator (which backs the q07 oracle query) both apply it.
  *
  * The manifest is tiny (one row per loaded period) so the anti-join is
  * always a broadcast; candidates never shuffle.
  */
object Manifest {

  /** A manifest row (`year`, `month`, `complete`) covers a candidate
    * period iff same year AND (year complete OR candidate month <=
    * recorded month). A NULL candidate month (a yearly archive) is
    * covered only by a complete year. */
  def covers(candYear: Column, candMonth: Column,
             year: Column, month: Column, complete: Column): Column =
    candYear === year && (complete === lit(true) || candMonth <= month)

  /** J7: keep candidate periods not covered by the manifest
    * (non-equi left-anti join on [[covers]]). */
  def newPeriods(candidates: DataFrame, manifest: DataFrame): DataFrame = {
    val m = broadcast(manifest)
    candidates.join(
      m,
      covers(candidates("year"), candidates("month"),
        m("year"), m("month"), m("complete")),
      "left_anti")
  }

}

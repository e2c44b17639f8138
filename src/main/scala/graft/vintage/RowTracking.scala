package graft.vintage

/** Row tracking (Delta's feature of the same name): every data row
  * gets a STABLE unique id that survives the operations that preserve
  * file identity, and layout rewrites that do not.
  *
  *  - At commit time each fresh data file is assigned a contiguous
  *    `baseRowId` range from a log-level high-water mark
  *    ([[RowIdHighWaterMark]]); a row's id is `baseRowId +` the
  *    row's parquet row index, derived only in
  *    [[connector.VintageNativeScan]]. Assignment happens INSIDE the optimistic
  *    commit loop, so racing writers that lose the version race
  *    re-read the mark and re-assign — ranges never overlap and no
  *    metadata conflict is involved (appends stay concurrent).
  *  - Merge-on-read DML (deletion vectors, the native SQL WriteDelta
  *    path) keeps file identity, so surviving rows keep their ids for
  *    free.
  *  - Layout rewrites (compact / OPTIMIZE / z-order cluster) change
  *    file boundaries, so they MATERIALIZE ids into a physical
  *    `_vintage_row_id` column of the rewritten files; the read path
  *    prefers the materialized column over base+index. The column is
  *    invisible to normal reads because every reader requests the
  *    table schema, which does not contain it.
  *
  * Enable at CREATE (`vintage.rowTracking.enabled = true`) — rows
  * written before enablement have no id (null); rewrites preserve
  * existing ids but never invent missing ones.
  *
  * Stability coverage: every path preserves surviving rows' ids.
  * Fluent DML: merge-on-read keeps file identity; update/delete/merge
  * rewrites and layout rewrites materialize ids. Native SQL
  * UPDATE/MERGE (the WriteDelta plan): the row-id projection carries
  * the tracking id as a third row-id column
  * ([[graft.vintage.connector.VintageRowLevel.TrackIdCol]]), and the
  * delta writer materializes it into each updated row's re-insert —
  * so SQL and fluent paths now share one stability contract. Deletes
  * (SQL or fluent) never move survivor ids.
  */
object RowTracking {
  val EnabledProp = "vintage.rowTracking.enabled"

  /** Physical column name of materialized ids inside rewritten files
    * (never part of the table schema).
    */
  val MaterializedCol = "_vintage_row_id"

  /** Output column name of [[VintageTable.toDFWithRowIds]]. */
  val RowIdCol = "_row_id"

  def enabled(props: Map[String, String]): Boolean =
    props.get(EnabledProp).exists(_.toBoolean)
}

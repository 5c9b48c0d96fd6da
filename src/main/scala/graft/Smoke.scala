package graft

/** Dev smoke main: drives the flagship `entry` plus the SQL surface of the
  * registered functions — the fast end-to-end check used between rounds.
  * Usage: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session()

    val e = SparkEntry.entry(spark)
    e.show(5, false)
    println("ENTRY_ROWS=" + e.count())

    // Reference-parity edge cases through the SQL surface (SURVEY.md §2.2):
    // invalid regex / out-of-range group -> "", NULL -> NULL — built-in throws.
    spark.sql(
      """SELECT regexp_extract_ref('hello', '[invalid', 1) AS invalid_re,
        |       regexp_extract_ref('a-1', '(\\d+)', 99) AS oob_group,
        |       regexp_extract_ref(CAST(NULL AS STRING), '(a)', 1) AS null_in
        |""".stripMargin).show(false)
    // Built-in regexp_extract must stay un-shadowed.
    println("builtin=" +
      spark.sql("SELECT regexp_extract('100-200', '(\\\\d+)', 1)")
        .collect()(0).getString(0))
    // Per-row patterns: the last-pattern memo must not poison alternating rows.
    spark.sql(
      """SELECT s, regexp_extract_ref(s, p, 1) AS r
        |FROM VALUES ('a1','(\\d+)'), ('b2','([a-z]+)'), ('c3','(\\d+)') AS t(s,p)
        |""".stripMargin).show(false)
    spark.stop()
  }
}

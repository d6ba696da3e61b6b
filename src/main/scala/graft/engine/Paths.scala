package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Path-convention key extraction — SURVEY.md §2.3 P1 (reference
  * `helpers.py:8-27` `extractPk`): recover the `{season}-{league}`
  * partition key from a staged-file path via regex, with the
  * reference's literal `"unknown"` fallback for non-matching paths
  * (kept, not dropped — ref `helpers.py:21-23`).
  *
  * Scale: a codegen'd regexp over a path column; in a file-native
  * pipeline the same values come for free from Hive-style partition
  * discovery (`season=S/league=L/`), which is the preferred layout at
  * 100 TB — this operator exists for paths we don't control.
  */
object Paths {
  // slash-anchored exactly like the reference (helpers.py:20): without
  // the anchor, ".../offseason_2024/league_39/..." would match on the
  // "season_2024" SUFFIX and merge foreign files into a real group
  private val SeasonLeague = "/season_([0-9]+)/league_([0-9]+)/"
  private val SeasonLeagueRe = SeasonLeague.r.unanchored

  def seasonOf(path: Column): Column = regexp_extract(path, SeasonLeague, 1)
  def leagueOf(path: Column): Column = regexp_extract(path, SeasonLeague, 2)

  /** `"{season}-{league}"`, or `"unknown"` when the path doesn't carry
    * the convention. */
  def extractPk(path: Column): Column =
    when(seasonOf(path) === "", lit("unknown"))
      .otherwise(concat(seasonOf(path), lit("-"), leagueOf(path)))

  /** [[extractPk]] of one path string, on the driver. */
  def pkOf(path: String): String = path match {
    case SeasonLeagueRe(season, league) => s"$season-$league"
    case _ => "unknown"
  }
}

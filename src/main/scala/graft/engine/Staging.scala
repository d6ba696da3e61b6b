package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Staging writer + compensating rollback — SURVEY.md §2.2 K3/K4
  * (reference `gcp_utils.py:32-64`, `ingestion/main.py:34-52,107-111`).
  *
  * K3: raw payloads land under the path convention
  * `root/season_S/league_L/endpoint/runid_date.json` — the layout the
  * engine's readers (`Normalize.pipeline`'s grouped read, the
  * `staged-json` DSv2 source) recover partition keys from.
  *
  * K4: a `Run` tracks every file it wrote; on failure `rollback()`
  * deletes exactly those files, so a partially-staged run never leaks
  * half its files into the next pipeline launch. This implements the
  * reference's INTENDED semantics — its literal code hits a
  * `NameError` on the teams-failure path (`main.py:161,213` reference
  * `standings_response` before assignment; SURVEY.md appendix) — and
  * makes rollback idempotent (deleting twice is a no-op).
  *
  * Driver-side by design: staging is the acquisition step feeding the
  * engine, one tiny JSON document per (league, endpoint) per run —
  * never a distributed job (the reference runs it in a Cloud
  * Function).
  */
object Staging {

  final class Run(root: String, runId: String) {
    private val written = scala.collection.mutable.ArrayBuffer[Path]()

    /** K3: stage one payload; returns the staged path. */
    def stage(season: Int, league: Int, endpoint: String, payload: String): Path = {
      val dir = Paths.get(root, s"season_$season", s"league_$league", endpoint)
      Files.createDirectories(dir)
      val p = dir.resolve(s"$runId.json")
      Files.write(p, payload.getBytes(StandardCharsets.UTF_8))
      written += p
      p
    }

    /** K4: delete everything this run wrote (idempotent). */
    def rollback(): Unit = {
      written.foreach(p => Files.deleteIfExists(p))
      written.clear()
    }
  }

  /** Stage all payloads or none: any thrown failure rolls the run
    * back before rethrowing (the reference's intended
    * fetch-and-store contract). */
  def stageAll(root: String, runId: String,
      payloads: Seq[(Int, Int, String, () => String)]): Seq[Path] = {
    val run = new Run(root, runId)
    try payloads.map { case (season, league, endpoint, fetch) =>
      run.stage(season, league, endpoint, fetch())
    } catch {
      case e: Throwable =>
        run.rollback()
        throw e
    }
  }
}

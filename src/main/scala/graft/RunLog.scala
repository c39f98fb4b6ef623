package graft

import java.nio.file.{Files, Path, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Clock, LocalDate, LocalDateTime}

/** O4: dated-file run log — the Spark rendering of the reference's logging
  * bootstrap (`config.py:38-39`: one log file per run date,
  * `MYSQL_to_BQ_<yyyy-MM-dd>.log`, with an asctime/levelname line format).
  *
  * Deliberately plain `java.nio` appends rather than a log4j2 config: the
  * run log is a per-invocation artifact owned by the CLI (like the
  * reference's `logging.basicConfig(filename=...)`), not part of Spark's
  * own logging, and this way it needs no global logging mutation and is
  * directly unit-testable.
  */
final class RunLog(dir: Path, clock: Clock = Clock.systemUTC()) {

  // file-name date and line timestamps share one clock: deriving the name
  // from a different zone would let them disagree near midnight.
  val file: Path = dir.resolve(s"MYSQL_to_BQ_${LocalDate.now(clock)}.log")
  Files.createDirectories(dir)

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def info(msg: String): Unit = write("INFO", msg)
  def error(msg: String): Unit = write("ERROR", msg)

  /** `<asctime> [<levelname>] <message>`, matching the reference's
    * `%(asctime)s ... %(levelname)s` shape. Synchronized: Etl runs table
    * pipelines on concurrent threads and they share one run log.
    */
  private def write(level: String, msg: String): Unit = synchronized {
    val line = s"${LocalDateTime.now(clock).format(fmt)} [$level] $msg\n"
    Files.writeString(file, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }
}

package graft

import java.nio.file.{Files, Path}

import graft.schema.GasSchema

/** The day-file writer of the pipeline specs. */
object DayFiles {

  /** Minimal day file in the reference envelope: the pinned 20-column
    * header, `rows` samples at 1 s spacing from `t0` seconds, values
    * derived from `seed` so every day's data is distinct. Named
    * `yyyymmdd_<suffix>.csv`; returns the name. */
  def write(dir: Path, day: java.time.LocalDate, rows: Int, seed: Int,
      suffix: String = "210000", t0: Int = 0): String = {
    val name = day.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE) +
      s"_$suffix.csv"
    val body = (0 until rows).map { r =>
      (Seq((t0 + r).toDouble) ++ (1 to 19).map(c => (seed * 100 + r * 10 + c) / 7.0))
        .map(v => f"$v%.4f").mkString(",")
    }.mkString("\n")
    Files.write(dir.resolve(name),
      s"${GasSchema.gasSchema.fieldNames.mkString(",")}\n$body\n".getBytes("UTF-8"))
    name
  }
}

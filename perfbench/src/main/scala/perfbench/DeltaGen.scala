package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.model.Schemas.Domains

/** Seeded day delta for `raw_policies.csv`: the input of one CDC increment.
  *
  * The delta changes 2% of the policies: each gets one SCD2-tracked
  * column (`Scd2.policyTrackedCols`) set to a value that differs from its
  * current one, and `updated_at` moved past every base date. It also adds
  * new policies, 0.5% of the base count. No row is a no-op, so
  * after the merge into a dimension built from the base file, the
  * dimension holds exactly `expectedRows` rows, of which `expectedCurrent`
  * are current: every changed key adds one closed version, every new key
  * one current row. The same base file and seed give the same delta.
  */
object DeltaGen {

  final case class Delta(changed: Int, added: Int, expectedRows: Long, expectedCurrent: Long)

  /** Stamp of every delta row: later than any date `SampleDataGen` writes,
    * so each new version starts strictly after the one it closes. */
  val Stamp = "2030-01-01T00:00:00"

  def write(baseCsv: Path, seed: Long, out: Path): Delta = {
    val lines = Files.readAllLines(baseCsv, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
    val columns = lines.head.split(",", -1).toIndexedSeq
    def ix(name: String) = {
      val i = columns.indexOf(name)
      require(i >= 0, s"$baseCsv has no column $name")
      i
    }
    val rows = lines.tail.map { l =>
      val r = l.split(",", -1)
      require(r.length == columns.size, s"unexpected row in $baseCsv: $l")
      r
    }.toIndexedSeq
    val r = new Random(seed)

    def other(domain: Seq[String], current: String): String = {
      val choices = domain.filterNot(_.equalsIgnoreCase(current.trim))
      choices(r.nextInt(choices.size))
    }
    // Each branch yields a value the silver transform keeps distinct from
    // the current one.
    def change(row: Array[String]): Unit = r.nextInt(5) match {
      case 0 => row(ix("status")) = other(Domains.policyStatuses, row(ix("status")))
      case 1 => row(ix("annual_premium")) =
        s"${row(ix("annual_premium")).trim.toDouble.toLong + 1 + r.nextInt(500)}.00"
      case 2 => row(ix("agent_id")) =
        other((0 until 500).map(a => f"AGT-$a%04d"), row(ix("agent_id")))
      case 3 => row(ix("channel")) = other(Domains.channels, row(ix("channel")))
      case _ => row(ix("coverage_type_code")) =
        other(Domains.coverageTypes, row(ix("coverage_type_code")))
    }

    val nChanged = math.max(1, rows.size / 50)
    val nNew = math.max(1, rows.size / 200)
    val changed = r.shuffle(rows.indices.toVector).take(nChanged).sorted.map { i =>
      val row = rows(i).clone()
      change(row)
      row(ix("updated_at")) = Stamp
      row
    }
    // New keys continue the base file's `POL-%07d` numbering.
    val added = (1 to nNew).map { k =>
      val row = rows(r.nextInt(rows.size)).clone()
      row(ix("policy_id")) = f"POL-${rows.size + k}%07d"
      row(ix("created_at")) = Stamp
      row(ix("updated_at")) = Stamp
      row
    }
    val text = (lines.head +: (changed ++ added).map(_.mkString(","))).mkString("", "\n", "\n")
    Files.writeString(out, text)
    Delta(nChanged, nNew, rows.size.toLong + nChanged + nNew, rows.size.toLong + nNew)
  }
}

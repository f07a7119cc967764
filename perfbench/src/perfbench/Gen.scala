package perfbench

import java.util.SplittableRandom

import graft.operators.TableSpec

/** Seeded generator of the streaming inputs, and of the outputs the three
  * CDR jobs must produce from them.
  *
  *  - Spool A holds socket-format lines (comma-delimited, 2-char prefix
  *    60..70) for `routedArchive` and `enrichToPartners(TableSpec.s61)`.
  *    About 1 line in 13 has one field too many or too few; s61 lines take
  *    their LAC/CI key from the code map with probability `MatchedShare`.
  *  - Spool B holds 44-field pipe-delimited GN records for
  *    `flumeDesensitize`.
  *
  * Every file is a pure function of (seed, spool, file index), so a file
  * dropped late in an open-loop run has the same bytes as in a backlog. The
  * expected outputs are computed here with the JVM's own MD5, independently
  * of Spark's `md5`.
  */
object Gen {
  val MatchedShare = 0.8
  val WrongArityOneIn = 13
  val CodeMapSize = 400
  val S61Share = 0.4
  val OtherPrefixes: Seq[String] =
    TableSpec.allPrefixes.filterNot(_ == TableSpec.s61.prefix)

  private def rng(seed: Long, stream: Long, idx: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L + idx)

  final case class CodeEntry(lac: String, ci: String, area: String)

  /** The LAC,CI → area code map (3 tab-separated columns) plus one
    * wrong-arity row that `CdrOps.loadCodeMap` must drop. Keys are
    * distinct; LACs are in 1000..4999, unmatched keys use 9000..9999. */
  def codeMap(seed: Long): Seq[CodeEntry] = {
    val r = rng(seed, 7, 0)
    val keys = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    while (keys.size < CodeMapSize)
      keys += ((1000 + r.nextInt(4000), 10000 + r.nextInt(90000)))
    keys.toSeq.zipWithIndex.map { case ((lac, ci), i) =>
      CodeEntry(lac.toString, ci.toString, s"area_$i")
    }
  }

  def codeMapTsv(map: Seq[CodeEntry]): Seq[String] =
    map.map(e => s"${e.lac}\t${e.ci}\t${e.area}") :+ "bad\trow"

  private def phone(r: SplittableRandom): String =
    "1" + (3000000000L + r.nextLong(7000000000L)).toString

  private def pad(n: Long, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  private def startTime(r: SplittableRandom): String =
    "2016011" + (4 + r.nextInt(3)) + pad(r.nextInt(24), 2) +
      pad(r.nextInt(60), 2) + pad(r.nextInt(60), 2)

  /** One full-arity line of `spec` before any arity damage. */
  private def specLine(r: SplittableRandom, spec: TableSpec, seq: Long,
                       key: CodeEntry): Array[String] =
    Array.tabulate(spec.fieldCount) { j =>
      if (j == 0) spec.prefix + pad(seq, 8)
      else if (j == spec.starttimeCol) startTime(r)
      else if (spec.maskCols.contains(j)) phone(r)
      else if (j == spec.lacCol) key.lac
      else if (j == spec.ciCol) key.ci
      else r.nextInt(100000).toString
    }

  private def damage(r: SplittableRandom, f: Array[String]): Array[String] =
    if (r.nextInt(WrongArityOneIn) != 0) f
    else if (r.nextBoolean()) f :+ "x"
    else f.dropRight(1)

  /** Socket-format file `idx` of spool A: `lines` lines. */
  def socketFile(seed: Long, idx: Long, lines: Int,
                 map: Seq[CodeEntry]): Seq[String] = {
    val r = rng(seed, 1, idx)
    (0 until lines).map { i =>
      val seq = idx * lines + i
      if (r.nextDouble() < S61Share) {
        val key =
          if (r.nextDouble() < MatchedShare) map(r.nextInt(map.size))
          else CodeEntry((9000 + r.nextInt(1000)).toString,
            r.nextInt(100000).toString, "")
        damage(r, specLine(r, TableSpec.s61, seq, key)).mkString(",")
      } else {
        val prefix = OtherPrefixes(r.nextInt(OtherPrefixes.size))
        TableSpec.byPrefix.get(prefix) match {
          case Some(spec) =>
            val key = map(r.nextInt(map.size))
            damage(r, specLine(r, spec, seq, key)).mkString(",")
          case None =>
            damage(r, Array(prefix + pad(seq, 8), startTime(r),
              r.nextInt(1000).toString, phone(r))).mkString(",")
        }
      }
    }
  }

  /** GN file `idx` of spool B: `lines` 44-field pipe records with the ids
    * at 0,1,2,7, timestamps at 17/18 and two trailing empty fields. */
  def gnFile(seed: Long, idx: Long, lines: Int): Seq[String] = {
    val r = rng(seed, 2, idx)
    (0 until lines).map { _ =>
      val ts = "2015-12-" + pad(8 + r.nextInt(3), 2) + " " +
        pad(r.nextInt(24), 2) + ":" + pad(r.nextInt(60), 2) + ":" +
        pad(r.nextInt(60), 2) + "." + pad(r.nextInt(1000000), 6)
      Array.tabulate(44) {
        case 0 => phone(r)
        case 1 | 2 => r.nextInt(100000).toString
        case 6 => "46000" + (1000000000L + r.nextLong(9000000000L))
        case 7 => "35444" + (1000000000L + r.nextLong(9000000000L))
        case 17 | 18 => ts
        case 42 | 43 => ""
        case _ => r.nextInt(1000).toString
      }.mkString("|")
    }
  }

  /** The s61 partner line `enrichToPartners` must deliver for a socket
    * line, if any: clean arity, prefix 61, key present in the map. */
  def expectedS61(line: String, areas: Map[(String, String), String])
      : Option[String] = {
    val spec = TableSpec.s61
    val f = line.split(",", -1)
    if (!line.startsWith(spec.prefix) || f.length != spec.fieldCount) None
    else areas.get((f(spec.lacCol), f(spec.ciCol))).filter(_.nonEmpty).map {
      area =>
        (spec.maskCols.map(c => Stats.md5Hex(f(c))) ++
          Seq(f(spec.starttimeCol), area, spec.tag)).mkString(",")
    }
  }

  /** The masked GN line `flumeDesensitize` must archive and deliver. */
  def expectedGn(line: String): String = {
    val mask = TableSpec.gn44.maskCols.toSet
    line.split("\\|", -1).zipWithIndex
      .map { case (v, i) => if (mask(i)) Stats.md5Hex(v) else v }
      .mkString("|")
  }

  def fileName(idx: Long): String = pad(idx, 8) + ".txt"
}

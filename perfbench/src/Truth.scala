package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.parse.{Parser, Transformer}
import graft.parse.Transformer.{Premio, SilverDraw}

/** Expected results computed from the generator's own rows, and the checks
  * that compare engine output against them. A check returns the problems it
  * found; an empty list is a pass.
  */
object Truth {

  /** The parse check: the engine's parser and transformer must reproduce
    * the generator's rows for the file exactly.
    */
  def parseProblems(d: DrawGen.Draw): Seq[String] =
    scala.util.Try(Transformer.toSilver(Parser.parseDraw(d.text))) match {
      case scala.util.Failure(e) => Seq(s"${d.relPath}: parse failed: ${e.getMessage}")
      case scala.util.Success(got) if got != d.truth =>
        val bad = got.premios.zipAll(d.truth.premios, null, null).indexWhere { case (a, b) => a != b }
        Seq(s"${d.relPath}: parsed rows differ from the generator " +
          (if (got.sorteo != d.truth.sorteo) "(sorteo row)" else s"(first at premio $bad)"))
      case _ => Nil
    }

  private def sold(p: Premio) = p.vendedor.exists(_ != "NO VENDIDO")

  private def money(cents: Iterable[Double]): Double =
    cents.map(m => BigDecimal(m)).sum.toDouble

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def compare(table: String, got: Map[Seq[Any], Seq[Double]],
      want: Map[_ <: Seq[Any], Seq[Double]]): Seq[String] =
    if (got.size != want.size) Seq(s"$table: ${got.size} groups, expected ${want.size}")
    else want.toSeq.flatMap { case (k, w) =>
      got.get(k) match {
        case None => Seq(s"$table: missing group $k")
        case Some(g) if g.size != w.size || g.zip(w).exists { case (a, b) => !close(a, b) } =>
          Seq(s"$table: group $k has ${g.mkString(",")}, expected ${w.mkString(",")}")
        case _ => Nil
      }
    }.take(5)

  private def num(r: Row, c: String): Double = r.getAs[Any](c) match {
    case null => Double.NaN
    case n: java.lang.Number => n.doubleValue
    case other => other.toString.toDouble
  }

  private def key(r: Row, cs: String*): Seq[Any] = cs.map { c =>
    r.getAs[Any](c) match {
      case n: java.lang.Number => n.longValue
      case other => other
    }
  }

  /** Check the rows of one gold table (from the pipeline's output or from
    * `GoldSql`) against the rows of `draws`.
    */
  def goldProblems(name: String, rows: Seq[Row], draws: Seq[SilverDraw]): Seq[String] = {
    val premios = draws.flatMap(_.premios)
    val fecha = draws.map(d => d.sorteo.numero_sorteo -> d.sorteo.fecha_sorteo.get.toLocalDate).toMap
    def got(keys: String*)(vals: String*) =
      rows.map(r => key(r, keys: _*) -> vals.map(num(r, _))).toMap
    name match {
      case "gold_draw_summary" =>
        compare(name, got("numero_sorteo")("total_premios", "premios_vendidos",
          "premios_no_vendidos", "total_monto"),
          premios.groupBy(_.numero_sorteo).map { case (k, ps) =>
            Seq(k) -> Seq(ps.size.toDouble, ps.count(sold).toDouble,
              ps.count(_.vendedor.contains("NO VENDIDO")).toDouble, money(ps.map(_.monto)))
          })
      case "gold_winning_number_frequency" =>
        compare(name, got("numero_premiado")("veces_ganador"),
          premios.groupBy(_.numero_premiado.get).map { case (k, ps) => Seq(k) -> Seq(ps.size.toDouble) })
      case "gold_terminations" =>
        compare(name, got("terminacion")("veces_ganador"),
          premios.groupBy(p => f"${p.numero_premiado.get % 100}%02d").map { case (k, ps) =>
            Seq(k) -> Seq(ps.size.toDouble)
          })
      case "gold_letters_distribution" =>
        compare(name, got("letras")("veces_ganador", "total_monto"),
          premios.groupBy(_.letras.get).map { case (k, ps) =>
            Seq(k) -> Seq(ps.size.toDouble, money(ps.map(_.monto)))
          })
      case "gold_geo_winnings" =>
        compare(name, got("departamento", "ciudad", "year")("num_ganadores"),
          premios.filter(sold).groupBy(p => (p.departamento, p.ciudad, p.year)).map {
            case ((d, c, y), ps) => Seq(d.orNull, c.orNull, y.toLong) -> Seq(ps.size.toDouble)
          })
      case "gold_vendor_leaderboard" =>
        compare(name, got("vendedor", "year")("num_premios", "total_monto"),
          premios.filter(sold).groupBy(p => (p.vendedor.get, p.year)).map { case ((v, y), ps) =>
            Seq(v, y.toLong) -> Seq(ps.size.toDouble, money(ps.map(_.monto)))
          })
      case "gold_time_series" =>
        compare(name, got("year", "month")("num_sorteos", "num_premios"),
          premios.groupBy { p =>
            val d = fecha(p.numero_sorteo)
            (d.getYear.toLong, d.getMonthValue.toLong)
          }.map { case ((y, m), ps) =>
            Seq(y, m) -> Seq(ps.map(_.numero_sorteo).distinct.size.toDouble, ps.size.toDouble)
          })
      case other => Seq(s"no expected values for $other")
    }
  }

  /** Checks for the `LotteryAnalytics` facade methods in the panel. */
  def facadeProblems(name: String, rows: Seq[Row], draws: Seq[SilverDraw]): Seq[String] = {
    val premios = draws.flatMap(_.premios)
    def got(keys: String*)(vals: String*) =
      rows.map(r => key(r, keys: _*) -> vals.map(num(r, _))).toMap
    name match {
      case "facade_top_winning_numbers" =>
        val want = premios.groupBy(_.numero_premiado.get).toSeq
          .map { case (k, ps) => (k, ps.size) }.sortBy { case (k, n) => (-n, k) }.take(10)
        val have = rows.map(r => (num(r, "numero_premiado").toLong, num(r, "veces").toInt))
        if (have == want) Nil else Seq(s"$name: ${have.take(3)} vs expected ${want.take(3)}")
      case "facade_top_vendors" =>
        val want = premios.filter(sold).groupBy(_.vendedor.get).toSeq
          .map { case (k, ps) => (k, ps.size, money(ps.map(_.monto))) }
          .sortBy { case (k, n, _) => (-n, k) }.take(10)
        val have = rows.map(r => (r.getAs[String]("vendedor"), num(r, "premios").toInt,
          num(r, "total_monto")))
        if (have.size == want.size && have.zip(want).forall { case (a, b) =>
            a._1 == b._1 && a._2 == b._2 && close(a._3, b._3) }) Nil
        else Seq(s"$name: ${have.take(2)} vs expected ${want.take(2)}")
      case "facade_winning_odds" =>
        val tipo = draws.map(d => d.sorteo.numero_sorteo -> d.sorteo.tipo_sorteo.get).toMap
        compare(name, got("tipo_sorteo")("numeros_premiados", "n_sorteos"),
          premios.groupBy(p => tipo(p.numero_sorteo)).map { case (k, ps) =>
            Seq(k) -> Seq(ps.flatMap(_.numero_premiado).distinct.size.toDouble,
              ps.map(_.numero_sorteo).distinct.size.toDouble)
          })
      case other => Seq(s"no expected values for $other")
    }
  }

  /** Row count plus an order-independent hash of the rows. Floating-point
    * values are rounded to 9 significant digits first, so the fingerprint
    * does not depend on summation order.
    */
  def fingerprint(rows: Seq[Row]): (Long, String) = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => canon(f.toDouble)
      case b: java.math.BigDecimal => canon(b.doubleValue)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val hash = rows.foldLeft(0L)((acc, r) => acc + MurmurHash3.stringHash(canon(r)).toLong)
    (rows.size.toLong, java.lang.Long.toHexString(hash))
  }
}

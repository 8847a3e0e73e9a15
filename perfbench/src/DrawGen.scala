package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.LocalDate

import scala.util.Random

import graft.parse.Transformer.{Premio, SilverDraw, Sorteo}

/** Seeded generator of raw weekly draw files in the fixture grammar
  * (`HEADER` / `BODY` sections, `year=YYYY/sorteo=N/` layout), shaped like
  * the reference's scraped bulletins: about `prizes` prize lines per draw,
  * winning numbers 1..109 964 with 1 to 6 digits, `VENDIDO POR` and
  * `NO VENDIDO` lines, lines with no seller, banners and noise lines.
  *
  * Every file comes with the silver rows it must parse into, built from the
  * generator's own choices and not from the engine's parser, so the parse
  * and every aggregate above it can be checked against known values.
  */
object DrawGen {

  val FirstSorteo = 3000L
  private val FirstDate = LocalDate.of(2012, 1, 1)
  private val MaxNumber = 109964

  private val Letters = Vector("P", "PR", "DT", "TT", "C", "PDT", "CT", "T", "CX", "PX")
  private val Places = Vector(
    "GUATEMALA" -> "GUATEMALA", "MIXCO" -> "GUATEMALA", "VILLA NUEVA" -> "GUATEMALA",
    "QUETZALTENANGO" -> "QUETZALTENANGO", "COBAN" -> "ALTA VERAPAZ",
    "ANTIGUA" -> "SACATEPEQUEZ", "ESCUINTLA" -> "ESCUINTLA", "HUEHUETENANGO" -> "HUEHUETENANGO",
    "MAZATENANGO" -> "SUCHITEPEQUEZ", "CHIQUIMULA" -> "CHIQUIMULA", "JALAPA" -> "JALAPA",
    "ZACAPA" -> "ZACAPA", "PUERTO BARRIOS" -> "IZABAL", "SALAMA" -> "BAJA VERAPAZ",
    "RETALHULEU" -> "RETALHULEU", "SOLOLA" -> "SOLOLA", "TOTONICAPAN" -> "TOTONICAPAN")
  private val Vendors = Vector.tabulate(240)(i => f"VENDEDOR_$i%03d") ++
    Vector("TELEMARKETING", "KIOSCO CENTRAL", "LOTERIA AMBULANTE", "AGENCIA LA BENDICION",
      "VENTAS EL TRIUNFO", "DISTRIBUIDORA SANTA ANA")
  private val Noise = Vector("RUIDO QUE SE IGNORA", "PAGINA SIGUIENTE", "***********",
    "LISTA OFICIAL DE PREMIOS", "ULTIMA LINEA DE LA PAGINA")

  /** One generated draw: where it lands, its text, and its silver rows. */
  final case class Draw(relPath: String, text: String, truth: SilverDraw) {
    def sorteo: Long = truth.sorteo.numero_sorteo
  }

  private def digits(r: Random): Int = {
    // 1..6-digit numbers, weighted toward the 4-5 digit bulk of real lists
    val d = Vector(1, 2, 3, 3, 4, 4, 4, 5, 5, 5, 5, 6)(r.nextInt(12))
    val lo = if (d == 1) 1 else math.pow(10, d - 1).toInt
    val hi = math.min(MaxNumber, math.pow(10, d).toInt - 1)
    lo + r.nextInt(hi - lo + 1)
  }

  private def montoCents(r: Random): Long = r.nextInt(100) match {
    case x if x < 70 => 60000L * (1 + r.nextInt(8))
    case x if x < 90 => 100000L + r.nextInt(900000)
    case x if x < 99 => 1000000L * (1 + r.nextInt(50))
    case _ => 10000000L * (1 + r.nextInt(50))
  }

  private def fmtMonto(cents: Long): String = f"${cents / 100}%,d.${cents % 100}%02d"

  private def fmtDate(d: LocalDate): String =
    f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear}%d"

  /** The `index`-th draw of the history generated from `seed`. Draws are
    * independent of one another, so a history of n draws is the first n of
    * any longer one and an increment is simply the next index.
    */
  def draw(seed: Long, index: Int, prizes: Int): Draw = {
    val r = new Random(seed * 1000003L + index)
    val n = FirstSorteo + index
    val date = FirstDate.plusDays(7L * index)
    val year = date.getYear
    val tipo = if (index % 9 == 8) "EXTRAORDINARIO" else "ORDINARIO"
    val (p1, p2, p3) = (digits(r), digits(r), digits(r))
    val (r1, r2, r3) = (r.nextInt(10), r.nextInt(10), r.nextInt(10))
    val head1 = s"SORTEO $tipo NO. $n"
    val head2 = s"FECHA DEL SORTEO: ${fmtDate(date)} FECHA DE CADUCIDAD: " +
      s"${fmtDate(date.plusDays(90))} PRIMER PREMIO $p1 ||| SEGUNDO PREMIO $p2 ||| " +
      s"TERCER PREMIO $p3 ||| REINTEGROS $r1, $r2, $r3"
    val header = if (r.nextBoolean()) Seq(s"$head1 $head2") else Seq(head1, head2)

    val count = prizes - prizes / 20 + r.nextInt(prizes / 10 + 1)
    val body = Vector.newBuilder[String]
    val rows = List.newBuilder[Premio]
    body += "CENTENARES"
    for (i <- 0 until count) {
      if (r.nextInt(100) < 2) body += Noise(r.nextInt(Noise.size))
      if (i > 0 && i % 250 == 0) body += "CENTENARES"
      val num = if (i < 3) Seq(p1, p2, p3)(i) else digits(r)
      val letras = Letters(r.nextInt(Letters.size))
      val cents = if (i == 0) 50000000L else montoCents(r)
      body += s"$num    $letras    ............    ${fmtMonto(cents)}"
      val (vendedor, ciudad, departamento) = r.nextInt(100) match {
        case x if x < 30 =>
          body += "NO VENDIDO"
          (Some("NO VENDIDO"), None, None)
        case x if x < 38 => (None, None, None)
        case x if x < 44 =>
          val v = Vendors(r.nextInt(Vendors.size))
          body += s"VENDIDO POR $v, DE ESTA CAPITAL"
          (Some(v), Some("DE ESTA CAPITAL"), Some("GUATEMALA"))
        case x if x < 50 =>
          val v = Vendors(r.nextInt(Vendors.size))
          body += s"VENDIDO POR $v, N/A, N/A"
          (Some(v), None, None)
        case x if x < 54 =>
          val v = Vendors(r.nextInt(Vendors.size))
          body += s"VENDIDO POR $v"
          (Some(v), None, None)
        case _ =>
          val v = Vendors(r.nextInt(Vendors.size))
          val (city, dept) = Places(r.nextInt(Places.size))
          body += s"VENDIDO POR $v, $city, $dept"
          (Some(v), Some(city), Some(dept))
      }
      rows += Premio(n, Some(num.toLong), Some(letras), cents / 100.0,
        vendedor, ciudad, departamento, year, n)
    }
    if (r.nextBoolean()) body += Noise(r.nextInt(Noise.size))

    val text = (Seq("HEADER") ++ header ++ Seq("", "BODY") ++ body.result())
      .mkString("", "\n", "\n")
    val sorteo = Sorteo(n, Some(tipo), Some(Date.valueOf(date)),
      Some(Date.valueOf(date.plusDays(90))), Some(p1.toLong), Some(p2.toLong),
      Some(p3.toLong), Some(r1.toLong), Some(r2.toLong), Some(r3.toLong), year, n)
    Draw(s"year=$year/sorteo=$n/results_raw_lottery_url_id_${index}_$n.txt", text,
      SilverDraw(sorteo, rows.result()))
  }

  /** Write draw `d` under `rawRoot`; returns the bytes written. */
  def write(rawRoot: Path, d: Draw): Long = {
    val p = rawRoot.resolve(d.relPath)
    Files.createDirectories(p.getParent)
    val bytes = d.text.getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** Glob that the pipeline reads, in the fixture layout. */
  def glob(rawRoot: Path): String = s"$rawRoot/year=*/sorteo=*/*.txt"
}

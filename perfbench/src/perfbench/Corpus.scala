package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** One generated sheet row, held as the cells written to the workbook.
  * Numeric cells are doubles (written without a `t` attribute), text
  * cells are strings (written through `sharedStrings.xml`), absent
  * cells are `null`. Field order is `Schemas.fixtureSchema`'s. */
final case class SheetRow(cells: Array[Any]) {
  def apply(i: Int): Any = cells(i)
}

/** Deterministic generator of customer workbooks in the reference
  * sheet's shape: the 20 raw Portuguese headers, formatted CPF/CNPJ,
  * float-typed phones, serial dates, null UF/Plano, `Vencimento` = 0
  * and about 5% duplicate keys. All text goes through the shared-string
  * table, as Excel writes it. The same seed gives the same rows and cells.
  */
object Corpus {

  val Headers: Seq[String] = Seq(
    "Nome/Razão Social", "Nome Fantasia", "CPF/CNPJ", "Data Nasc.",
    "Data Cadastro cliente", "Celulares", "Telefones", "Emails",
    "Endereço", "Número", "Complemento", "Bairro", "CEP", "Cidade", "UF",
    "Plano", "Plano Valor", "Vencimento", "Status", "Isento")

  private val FirstNames = Seq("Ana", "Antônio", "Beatriz", "Bruno", "Camila",
    "Carlos", "Daniela", "Diego", "Eduarda", "Felipe", "Gabriela", "Gustavo",
    "Helena", "Igor", "Isabela", "João", "Juliana", "Lucas", "Luana", "Marcos",
    "Mariana", "Nicolas", "Olívia", "Paulo", "Rafaela", "Rodrigo", "Sofia",
    "Thiago", "Valentina", "Vinícius")
  private val LastNames = Seq("Almeida", "Barbosa", "Cardoso", "Costa", "Dias",
    "Ferreira", "Gomes", "Lima", "Martins", "Melo", "Moraes", "Nunes",
    "Oliveira", "Pereira", "Ribeiro", "Rocha", "Santos", "Silva", "Souza",
    "Teixeira")
  private val Domains = Seq("da.br", "gmail.com", "hotmail.com", "uol.com.br",
    "ig.com.br", "yahoo.com.br")
  private val Streets = Seq("Rua das Flores", "Avenida Brasil", "Rua Sete",
    "Travessa do Porto", "Rua Bahia", "Avenida Paulista", "Rua da Praia",
    "Alameda Santos", "Rua Goiás", "Estrada Velha")
  private val Complements = Seq("quadra 75,lote 5", "apto 101", "casa 2",
    "bloco B", "fundos", "sala 3")
  private val Bairros = Seq("Centro", "Jardim América", "Vila Nova",
    "Boa Vista", "Santa Luzia", "Industrial", "Planalto")
  private val Cidades = Seq("Almeida", "Salvador", "Recife", "Campinas",
    "Fortaleza")
  private val Ufs = Seq("Acre", "Alagoas", "Amapá", "Amazonas", "Bahia", "Ceará",
    "Distrito Federal", "Espírito Santo", "Goiás", "Maranhão", "Mato Grosso",
    "Mato Grosso do Sul", "Minas Gerais", "Pará", "Paraíba", "Paraná",
    "Pernambuco", "Piauí", "Rio de Janeiro", "Rio Grande do Norte",
    "Rio Grande do Sul", "Rondônia", "Roraima", "Santa Catarina", "São Paulo",
    "Sergipe", "Tocantins")
  /** 16 (Plano, Plano Valor) pairs, as in the reference sheet. */
  private val Plans: Seq[(String, Double)] = Seq(
    "50MB_PLA_ITA_FIBRA_99_NOVO" -> 99.9, "100MB_PLA_ITA_FIBRA" -> 109.9,
    "200MB_PLA_ITA_FIBRA" -> 129.9, "300MB_PLA_ITA_FIBRA" -> 149.9,
    "500MB_PLA_ITA_FIBRA" -> 169.9, "10MB_RADIO_RURAL" -> 70.0,
    "20MB_RADIO_RURAL" -> 79.9, "30MB_RADIO_RURAL" -> 89.9,
    "50MB_EMPRESARIAL" -> 119.9, "100MB_EMPRESARIAL" -> 139.9,
    "60MB_PLA_SAL_FIBRA" -> 99.0, "120MB_PLA_SAL_FIBRA" -> 119.0,
    "240MB_PLA_SAL_FIBRA" -> 139.0, "35MB_PLA_REC_FIBRA" -> 75.5,
    "70MB_PLA_REC_FIBRA" -> 95.5, "140MB_PLA_REC_FIBRA" -> 115.5)

  /** Serial-date ranges: birth dates 1901-06-29 … 2095-04-11 (future dates
    * present, as in the reference), sign-up 2020-07-16 … 2023-05-25. */
  private val NascLo = 626; private val NascHi = 71319
  private val CadLo = 44028; private val CadHi = 45071

  /** Key `k` → its 11-digit CPF or 14-digit CNPJ digits. Multiplying by
    * an odd number not divisible by 5 is a bijection modulo 10^n, so
    * distinct keys never collide. One key in ten is a company. */
  private def keyDigits(k: Long): String =
    if (k % 10 == 7) f"${(k * 7919L + 1234567L) % 100000000000000L}%014d"
    else f"${(k * 104729L + 3141592L) % 100000000000L}%011d"

  private def formatKey(d: String): String =
    if (d.length == 11) s"${d.substring(0, 3)}.${d.substring(3, 6)}.${d.substring(6, 9)}-${d.substring(9)}"
    else s"${d.substring(0, 2)}.${d.substring(2, 5)}.${d.substring(5, 8)}/${d.substring(8, 12)}-${d.substring(12)}"

  /** Rows for `n` slots. Each slot draws a key: with probability
    * `dupRate` a key already used in this corpus (a duplicate with a
    * different sign-up day), otherwise a new random key. */
  def rows(seed: Long, n: Int, dupRate: Double): IndexedSeq[SheetRow] = {
    val rnd = new SplittableRandom(seed)
    val used = mutable.ArrayBuffer[Long]()
    val cadDays = mutable.HashMap[Long, mutable.Set[Int]]()
    val seen = mutable.HashSet[Long]()
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    (0 until n).map { _ =>
      val k =
        if (used.nonEmpty && chance(dupRate)) used(rnd.nextInt(used.size))
        else {
          var f = rnd.nextLong(1000000000L)
          while (seen.contains(f)) f = rnd.nextLong(1000000000L)
          seen += f; used += f; f
        }
      // a key's copies get distinct sign-up days, so the Q8 survivor
      // (earliest sign-up) is unique
      val days = cadDays.getOrElseUpdate(k, mutable.Set[Int]())
      var day = CadLo + rnd.nextInt(CadHi - CadLo + 1)
      while (days.contains(day)) day = CadLo + rnd.nextInt(CadHi - CadLo + 1)
      days += day
      val first = pick(FirstNames); val last = pick(LastNames)
      val digits = keyDigits(k)
      val ddd = 11 + rnd.nextInt(88)
      val (plan, valor) = pick(Plans)
      val email =
        if (chance(0.03)) null
        else {
          val e = s"${stripAccents(first).toLowerCase}${rnd.nextInt(100)}@${pick(Domains)}"
          if (chance(0.02)) s"  $e " else e
        }
      SheetRow(Array[Any](
        s"$first $last",
        if (chance(0.001)) s"$last Telecom ME" else null,
        formatKey(digits),
        if (chance(0.4)) null else (NascLo + rnd.nextInt(NascHi - NascLo + 1)).toDouble,
        day + (8 + rnd.nextInt(10)) / 24.0,
        if (chance(0.11)) null else (5500000000000L + ddd * 1000000000L +
          900000000L + rnd.nextInt(100000000)).toDouble,
        if (chance(0.37)) null else (550000000000L + ddd.toLong * 100000000L +
          30000000L + rnd.nextInt(10000000)).toDouble,
        email,
        if (chance(0.002)) null else pick(Streets),
        if (chance(0.2)) pick(Seq("S/N", "12A", "km 4")) else (1 + rnd.nextInt(9999)).toDouble,
        if (chance(0.06)) null else pick(Complements),
        pick(Bairros),
        if (chance(0.001)) null
        else if (chance(0.5)) (10000000 + rnd.nextInt(89999999)).toDouble
        else f"${10000 + rnd.nextInt(89999)}%05d-${rnd.nextInt(1000)}%03d",
        pick(Cidades),
        if (chance(0.05)) null else pick(Ufs),
        if (chance(0.03)) null else plan,
        valor,
        pick(Seq(0, 5, 10, 15, 20, 25)).toDouble,
        if (chance(0.1)) "Ativo" else "Velocidade Reduzida",
        if (chance(0.005)) "Sim" else null))
    }
  }

  private def stripAccents(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")

  private def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '&' => sb.append("&amp;"); case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;"); case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def colRef(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString
    else colRef(i / 26 - 1) + ('A' + i % 26).toChar

  /** Numeric cell text: integral values without a fraction, as Excel
    * stores them. */
  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Writes `rows` as one workbook (sheet "Planilha2") with the JDK
    * `ZipOutputStream`. */
  def writeXlsx(path: Path, rows: Seq[SheetRow]): Unit = {
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16))
    val w: Writer = new OutputStreamWriter(zos, StandardCharsets.UTF_8)
    def put(name: String)(body: => Unit): Unit = {
      zos.putNextEntry(new ZipEntry(name)); body; w.flush(); zos.closeEntry()
    }
    val shared = mutable.LinkedHashMap[String, Int]()
    var sharedRefs = 0L
    def s(v: String): Int = { sharedRefs += 1; shared.getOrElseUpdate(v, shared.size) }
    try {
      put("[Content_Types].xml")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""))
      put("_rels/.rels")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""))
      put("xl/workbook.xml")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><workbookPr/><sheets><sheet name="Planilha2" sheetId="1" r:id="rId1"/></sheets></workbook>"""))
      put("xl/_rels/workbook.xml.rels")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""))
      put("xl/worksheets/sheet1.xml") {
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        val header = SheetRow(Headers.toArray[Any])
        (header +: rows).iterator.zipWithIndex.foreach { case (row, ri) =>
          val r = ri + 1
          w.write(s"""<row r="$r">""")
          var c = 0
          while (c < row.cells.length) {
            row(c) match {
              case null =>
              case v: String => w.write(s"""<c r="${colRef(c)}$r" t="s"><v>${s(v)}</v></c>""")
              case d: Double => w.write(s"""<c r="${colRef(c)}$r"><v>${num(d)}</v></c>""")
              case other => sys.error(s"unsupported cell $other")
            }
            c += 1
          }
          w.write("</row>")
        }
        w.write("</sheetData></worksheet>")
      }
      put("xl/sharedStrings.xml") {
        w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="$sharedRefs" uniqueCount="${shared.size}">""")
        shared.keysIterator.foreach { v =>
          val space = if (v != v.trim) " xml:space=\"preserve\"" else ""
          w.write(s"<si><t$space>${esc(v)}</t></si>")
        }
        w.write("</sst>")
      }
    } finally w.close()
  }

  /** Writes `rows` across `files` workbooks named part-NNN.xlsx under
    * `dir` (contiguous slices, so file order is row order). */
  def writeShards(dir: Path, rows: IndexedSeq[SheetRow], files: Int): Seq[Path] = {
    Files.createDirectories(dir)
    val per = (rows.size + files - 1) / files
    (0 until files).map { f =>
      val p = dir.resolve(f"part-$f%03d.xlsx")
      writeXlsx(p, rows.slice(f * per, math.min(rows.size, (f + 1) * per)))
      p
    }
  }
}

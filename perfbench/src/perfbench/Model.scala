package perfbench

import java.time.LocalDate

import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent 64-bit content checksum of a
  * multiset of canonical row strings. */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"$rows rows / $sum%016x"
}

object Digest {
  def line(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0dd5) & 0xffffffffL)
  def of(lines: Iterator[String]): Digest = {
    var n = 0L; var sum = 0L
    lines.foreach { s => n += 1; sum += line(s) }
    Digest(n, sum)
  }
  /** Canonical text of one row: fields joined by `|`, null as `∅`. */
  def canon(fields: Any*): String =
    fields.map(f => if (f == null) "∅" else f.toString).mkString("|")
}

/** Plain-Scala, row-at-a-time reference model of the import job
  * (the reference's `etl_process.py`, semantics L1–L10), applied to the
  * generated sheet rows directly — it never goes through Spark or the
  * xlsx reader. It yields the expected contents of the four loaded
  * tables in canonical form, with rows keyed by CPF/CNPJ digits and plan
  * name instead of the sink-assigned ids.
  *
  * Typing follows the declared input schema: text cells as text, numeric
  * cells into text columns as integral digits, serial dates from the
  * 1900 date system, `Plano Valor` as DECIMAL(15,2).
  */
object Model {

  final case class Client(nome: String, fantasia: String, cpf: String,
      nasc: LocalDate, cadastro: LocalDate) {
    def canon: String =
      Digest.canon(nome, fantasia, cpf, nasc, if (cadastro == null) null else s"$cadastro 00:00:00")
  }

  /** One cleaned row (after L1–L2 and the Q3/Q4 rules). */
  final case class Clean(client: Client, cel: String, tel: String, email: String,
      endereco: String, numero: String, complemento: String, bairro: String,
      cep: String, cidade: String, uf: String, plano: String,
      valor: java.math.BigDecimal, vencimento: Integer)

  final case class Expected(planos: Map[String, java.math.BigDecimal],
      clientes: Map[String, Client], contratos: Seq[String], contatos: Seq[String]) {
    def planosDigest: Digest = Digest.of(planos.iterator.map { case (d, v) =>
      Digest.canon(d, if (v == null) null else v.toPlainString) })
    def clientesDigest: Digest = Digest.of(clientes.valuesIterator.map(_.canon))
    def contratosDigest: Digest = Digest.of(contratos.iterator)
    def contatosDigest: Digest = Digest.of(contatos.iterator)
  }

  private val Epoch1900 = 25569L

  private def text(c: Any): String = c match {
    case null => null
    case s: String => s
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  private def serialDate(c: Any): LocalDate = c match {
    case d: Double => LocalDate.ofEpochDay(d.toLong - Epoch1900)
    case _ => null
  }
  /** TIMESTAMP read, then `to_date` (Clean): the calendar day, UTC. */
  private def serialDay(c: Any): LocalDate = c match {
    case d: Double =>
      val micros = math.round((d - Epoch1900) * 86400.0 * 1e6)
      LocalDate.ofEpochDay(Math.floorDiv(micros, 86400L * 1000000L))
    case _ => null
  }
  private def digits(s: String): String = if (s == null) null else s.filter(_.isDigit)
  private def phone(c: Any): String = {
    val d = digits(text(c)); if (d == null || d.isEmpty) null else d
  }

  def clean(r: SheetRow): Clean = Clean(
    Client(text(r(0)), text(r(1)), digits(text(r(2))), serialDate(r(3)), serialDay(r(4))),
    cel = phone(r(5)), tel = phone(r(6)), email = text(r(7)),
    endereco = text(r(8)), numero = text(r(9)), complemento = text(r(10)),
    bairro = text(r(11)), cep = text(r(12)), cidade = text(r(13)),
    uf = Option(text(r(14))).getOrElse("Desconhecido"),
    plano = Option(text(r(15))).getOrElse("Plano Desconhecido"),
    valor = r(16) match {
      case d: Double => java.math.BigDecimal.valueOf(d).setScale(2, java.math.RoundingMode.HALF_UP)
      case _ => null
    },
    vencimento = r(17) match { case d: Double => Int.box(d.toInt); case _ => null })

  private def nullsLast(a: String, b: String): Int =
    if (a == null && b == null) 0 else if (a == null) 1 else if (b == null) -1
    else a.compareTo(b)

  /** Q8 survivor: earliest sign-up day, then name, then e-mail. The
    * generator gives every copy of a key its own sign-up day, so the
    * rule's final whole-row fingerprint is never needed; a tie here is a
    * generator bug. */
  private def survivor(copies: Seq[Clean]): Clean = {
    val ordered = copies.sortWith { (a, b) =>
      val c1 = a.client.cadastro.compareTo(b.client.cadastro)
      val c = if (c1 != 0) c1 else {
        val c2 = nullsLast(a.client.nome, b.client.nome)
        if (c2 != 0) c2 else nullsLast(a.email, b.email)
      }
      c < 0
    }
    if (ordered.size > 1) {
      val (a, b) = (ordered(0), ordered(1))
      require(a.client.cadastro != b.client.cadastro || a.client.nome != b.client.nome ||
        a.email != b.email, s"Q8 tie on key ${a.client.cpf}")
    }
    ordered.head
  }

  /** Expected sink state after one import of `rows` into an empty sink. */
  def expected(rows: Seq[SheetRow]): Expected = {
    val cleaned = rows.map(clean)
    val survivors = cleaned.groupBy(_.client.cpf).values.map(survivor).toSeq
    // L1+L3: (Plano, min(Plano Valor)), one row per name
    val planoPairs = survivors.groupBy(_.plano).map { case (p, rs) =>
      p -> rs.flatMap(r => Option(r.valor)).minOption.orNull }
    // L4: clients insert-if-absent on cpf_cnpj
    val clientes = survivors.map(r => r.client.cpf -> r.client).toMap
    def orEmpty(s: String) = if (s == null) "" else s
    // L5–L9: one contract per surviving row (no rejects: every key and
    // plan was just inserted)
    val contratos = survivors.map { r =>
      Digest.canon(r.client.cpf, r.plano,
        if (r.vencimento == null || r.vencimento == 0) 10 else r.vencimento,
        false, orEmpty(r.endereco), orEmpty(r.numero), orEmpty(r.bairro),
        orEmpty(r.cidade), orEmpty(r.complemento), orEmpty(r.cep),
        r.uf.take(2), 1)
    }
    // L10: Telefones→1, Celulares→2, Emails→3, nulls skipped, trimmed of
    // spaces (SQL `trim`, not Java's whitespace trim)
    val contatos = survivors.flatMap { r =>
      Seq(1 -> r.tel, 2 -> r.cel, 3 -> r.email).collect {
        case (t, v) if v != null => Digest.canon(r.client.cpf, t, v.replaceAll("^ +| +$", ""))
      }
    }
    Expected(planoPairs, clientes, contratos, contatos)
  }
}

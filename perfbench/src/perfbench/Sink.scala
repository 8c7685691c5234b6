package perfbench

import java.sql.{Connection, DriverManager, ResultSet, SQLException}

import scala.collection.mutable.ArrayBuffer

/** The embedded in-memory Derby sink, read and prepared over plain JDBC
  * (never through Spark), so the correctness check is independent of
  * the engine under test. */
object Sink {
  val Facts = Seq("tbl_cliente_contratos", "tbl_cliente_contatos")
  val Loaded = Seq("tbl_planos", "tbl_clientes") ++ Facts

  def url(db: String): String = s"jdbc:derby:memory:$db"

  def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def rows[A](c: Connection, sql: String)(f: ResultSet => A): Iterator[A] = {
    val st = c.createStatement()
    val rs = st.executeQuery(sql)
    val out = ArrayBuffer[A]()
    try while (rs.next()) out += f(rs) finally { rs.close(); st.close() }
    out.iterator
  }

  /** Drops an in-memory database; Derby signals success with SQLState
    * 08006. */
  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => }

  def count(url: String, table: String): Long = withConn(url) { c =>
    rows(c, s"SELECT COUNT(*) FROM $table")(_.getLong(1)).next()
  }

  private def str(rs: ResultSet, i: Int): String = rs.getString(i)
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Content digests of the four loaded tables, with foreign keys
    * resolved to their natural keys (CPF/CNPJ, plan name). A dangling
    * foreign key shows as `∅` and so never matches the model. */
  def digests(url: String): Map[String, Digest] = withConn(url) { c =>
    Map(
      "tbl_planos" -> Digest.of(rows(c, "SELECT descricao, valor FROM tbl_planos") { rs =>
        Digest.canon(str(rs, 1), Option(rs.getBigDecimal(2)).map(_.toPlainString).orNull)
      }),
      "tbl_clientes" -> Digest.of(rows(c,
        "SELECT nome_razao_social, nome_fantasia, cpf_cnpj, data_nascimento, data_cadastro FROM tbl_clientes") { rs =>
        Digest.canon(str(rs, 1), str(rs, 2), str(rs, 3),
          Option(rs.getDate(4)).map(_.toLocalDate).orNull,
          Option(rs.getTimestamp(5)).map(t => TsFormat.format(t.toLocalDateTime)).orNull)
      }),
      "tbl_cliente_contratos" -> Digest.of(rows(c,
        """SELECT c.cpf_cnpj, p.descricao, k.dia_vencimento, k.isento,
          |  k.endereco_logradouro, k.endereco_numero, k.endereco_bairro,
          |  k.endereco_cidade, k.endereco_complemento, k.endereco_cep,
          |  k.endereco_uf, k.status_id
          |FROM tbl_cliente_contratos k
          |LEFT JOIN tbl_clientes c ON c.id = k.cliente_id
          |LEFT JOIN tbl_planos p ON p.id = k.plano_id""".stripMargin) { rs =>
        Digest.canon(str(rs, 1), str(rs, 2), rs.getInt(3), rs.getBoolean(4),
          str(rs, 5), str(rs, 6), str(rs, 7), str(rs, 8), str(rs, 9), str(rs, 10),
          str(rs, 11), rs.getInt(12))
      }),
      "tbl_cliente_contatos" -> Digest.of(rows(c,
        """SELECT c.cpf_cnpj, t.tipo_contato_id, t.contato
          |FROM tbl_cliente_contatos t
          |LEFT JOIN tbl_clientes c ON c.id = t.cliente_id""".stripMargin) { rs =>
        Digest.canon(str(rs, 1), rs.getInt(2), str(rs, 3))
      }))
  }

  /** Identity values each range allocation hands out in a sink prepared
    * with [[avoidIdentityContention]]: more than any table of one import
    * receives. */
  val IdentityRange = 1000000

  /** Works round identity-range contention in a fresh sink. Derby hands
    * out identity values in ranges (`derby.language.sequence.preallocator`,
    * default 100), and a range allocation that meets another writer's open
    * transaction fails the insert with ERROR 40XL1 instead of waiting;
    * `Load` appends over up to 8 connections at once. This sets the range
    * to [[IdentityRange]] for this database only, then takes each identity
    * column's first range by inserting and deleting one row per loaded
    * table, so no range is allocated during an import. A sink left at
    * Derby's defaults skips this. See perfbench/README.md. */
  def avoidIdentityContention(url: String): Unit = withConn(url) { c =>
    val st = c.createStatement()
    st.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
      s"'derby.language.sequence.preallocator', '$IdentityRange')")
    st.executeUpdate("INSERT INTO tbl_planos (descricao) VALUES ('~')")
    st.executeUpdate("INSERT INTO tbl_clientes (cpf_cnpj) VALUES ('~')")
    Facts.foreach(t => st.executeUpdate(s"INSERT INTO $t (cliente_id) VALUES (NULL)"))
    Loaded.foreach(t => st.executeUpdate(s"DELETE FROM $t"))
    st.close()
  }
}

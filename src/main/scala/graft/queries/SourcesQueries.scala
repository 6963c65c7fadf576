package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{BinaryParsers, GitConnector, ImapConnector, Parsers}

import Fixtures._
import OracleSql._
import Oracle._

/** Sources and parsers: JSON-lines scans, the parser registry, document
  * round-trips, IMAP mailboxes and git change hints. */
object SourcesQueries {
  /** On-disk staged mailbox tree for the DSv2 connector query — the
    * SAME synthetic messages the in-plan imap_scan stages, written once
    * per sf dir as `{root}/{mailbox}/{uid}.eml`. The foreachPartition
    * write targets a driver-local temp dir, which executor tasks can
    * only reach because this harness runs local-mode — it is a TEST
    * FIXTURE, not a cluster pattern; on a real cluster the staging
    * root would live on shared storage (and a real deployment reads an
    * actual IMAP server through the connector, staging nothing). */
  private def stagedImapRoot(s: SparkSession, dir: String): String =
    StandingArtifacts(s, dir, "stagedImapRoot") {
      val root = tempDirCleanedOnExit("graft-imap").toString
      Seq("INBOX" -> 7L, "Archive" -> 12L, "Reports" -> 5L).foreach {
        case (mb, uv) =>
          val d = java.nio.file.Paths.get(root, mb)
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.write(d.resolve("UIDVALIDITY"),
            uv.toString.getBytes("UTF-8"))
      }
      val staged = syntheticMailboxRelation(s, dir)
      // one file per row: a duplicate uid would silently last-write-win
      // on disk while the oracle emits both rows
      require(staged.groupBy("uid").count().filter(col("count") > 1).isEmpty,
        "stagedImapRoot: duplicate uids in the documents fixture")
      staged.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(root, r.getAs[String]("mailbox"),
              s"${r.getAs[Long]("uid")}.eml"),
            r.getAs[Array[Byte]]("content"))
        }
      }
      root
    }

  val defs: Seq[QueryDef] = Seq(
    // ---- JSON-lines source round-trip: documents staged once per dir
    //      as JSONL (Spark's writer handles escaping), read back with
    //      an explicit schema incl. a nested struct; the oracle derives
    //      the same values from the parquet ORIGINALS, so any encode/
    //      decode infidelity (escaping, unicode, nesting) hash-fails ----
    QueryDef("jsonl_scan", (s, dir) => {
      val in = StandingArtifacts(s, dir, "jsonl_scan/input") {
        val d = tempDirCleanedOnExit("graft-jsonl").resolve("in").toString
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            struct(lit("en").as("lang"), length(col("text")).as("n"))
              .as("meta"))
          .coalesce(1).write.json(d)
        d
      }
      s.read.schema("doc_id LONG, text STRING, " +
          "meta STRUCT<lang: STRING, n: INT>").json(in)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          col("meta.n").as("meta_n"), col("meta.lang").as("lang"))
        .orderBy("doc_id")
    },
    // the JSONL round-trip must reproduce the parquet originals
    Sql(
      """SELECT doc_id, length(text) AS text_len,
        |  CAST(length(text) AS INT) AS meta_n, 'en' AS lang
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- parser registry dispatch (S8 first-match semantics) ----
    QueryDef("parser_dispatch", (s, dir) => {
      val files = t(s, dir, "documents").select(
        col("doc_id"),
        col("text").cast("binary").as("content"),
        element_at(array(lit(".md"), lit(".py"), lit(".json"), lit(".txt"),
          lit(".pdf"), lit(".docx"), lit(".pptx"), lit(".xlsx"),
          lit(".doc"), lit(".eml"), lit(".msg")),
          (col("doc_id") % 11 + 1).cast("int")).as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("extension"), col("parser"),
          col("parse_status"), length(col("text")).as("text_len"))
        .orderBy("doc_id")
    }, Sql(
      """WITH f AS (
        |  SELECT doc_id, text,
        |    (['.md', '.py', '.json', '.txt', '.pdf', '.docx', '.pptx',
        |      '.xlsx', '.doc', '.eml', '.msg'])
        |      [CAST(doc_id % 11 + 1 AS INT)] AS extension
        |  FROM documents)
        |SELECT doc_id, extension,
        |  CASE extension
        |    WHEN '.md' THEN 'markdown' WHEN '.py' THEN 'code'
        |    WHEN '.json' THEN 'structured' WHEN '.txt' THEN 'text'
        |    WHEN '.pdf' THEN 'pdf' WHEN '.docx' THEN 'docx'
        |    WHEN '.pptx' THEN 'pptx' WHEN '.xlsx' THEN 'xlsx'
        |    WHEN '.eml' THEN 'eml'
        |    WHEN '.doc' THEN 'doc' WHEN '.msg' THEN 'msg'
        |    ELSE 'text' END AS parser,
        |  -- plain text bytes under a binary extension: the real parsers
        |  -- reject them with a typed status (.doc/.msg are OLE
        |  -- containers, so non-CFB bytes fail the magic check)
        |  CASE extension WHEN '.pdf' THEN 'error:not_pdf'
        |    WHEN '.docx' THEN 'error:not_docx'
        |    WHEN '.pptx' THEN 'error:not_pptx'
        |    WHEN '.xlsx' THEN 'error:not_xlsx'
        |    WHEN '.doc' THEN 'error:not_ole'
        |    WHEN '.msg' THEN 'error:not_ole'
        |    ELSE 'ok' END AS parse_status,
        |  CAST(CASE WHEN extension IN ('.pdf', '.docx', '.pptx', '.xlsx',
        |    '.doc', '.msg') THEN 0
        |    WHEN extension = '.eml' THEN
        |      CASE WHEN regexp_matches(text, '\r?\n\r?\n')
        |        THEN length(regexp_replace(text, '^.*?\r?\n\r?\n', '', 's'))
        |        ELSE 0 END
        |    ELSE length(text) END AS INT) AS text_len
        |FROM f ORDER BY doc_id""".stripMargin)),

    // ---- real PDF extraction round-trip (S8) ----
    // Synthesizes a valid one-stream PDF around each document's text
    // IN-PLAN (escape + concat column ops), routes it through the real
    // pdf parser, and emits the EXTRACTED text — the oracle hash-checks
    // it against the original document text, pinning the whole literal
    // -string/stream/Length decode path. DuckDB can't parse PDFs, so
    // the identity property is what makes this oracle-checkable.
    QueryDef("parser_pdf_roundtrip", (s, dir) => {
      val esc = regexp_replace(regexp_replace(col("text"),
        "\\\\", "\\\\\\\\"), "([()])", "\\\\$1")
      val body = concat(lit("BT ("), esc, lit(") Tj ET"))
      val pdf = concat(
        lit("%PDF-1.4\n1 0 obj\n<< /Length "),
        length(body.cast("binary")).cast("string"),
        lit(" >>\nstream\n"), body, lit("\nendstream\nendobj\n"))
      val files = t(s, dir, "documents").select(
        col("doc_id"), pdf.cast("binary").as("content"),
        lit(".pdf").as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("parser"), col("parse_status"),
          col("text"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, 'pdf' AS parser,
        |  CASE WHEN length(text) > 0 THEN 'ok' ELSE 'empty' END
        |    AS parse_status,
        |  text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- real PPTX / XLSX extraction round-trips (S8) ----
    // Same oracle pattern as parser_pdf_roundtrip: build a minimal
    // valid OOXML archive around each document's text (deterministic
    // STORED zip), extract with the real parser, hash-check the
    // extracted text against the original.
    QueryDef("parser_pptx_roundtrip", (s, dir) => {
      val synth = udf((text: String) => BinaryParsers.synthPptx(text))
      val files = t(s, dir, "documents").select(
        col("doc_id"), synth(col("text")).as("content"),
        lit(".pptx").as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("parser"), col("parse_status"),
          col("text"))
        .orderBy("doc_id")
    },
    // pptx trims trailing paragraph newlines; xlsx drops all-whitespace
    // rows — mirror both edge cases so the oracles stay total.
    Sql(
      """SELECT doc_id, 'pptx' AS parser,
        |  CASE WHEN length(rtrim(text, chr(10))) > 0 THEN 'ok'
        |    ELSE 'empty' END AS parse_status,
        |  rtrim(text, chr(10)) AS text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("parser_xlsx_roundtrip", (s, dir) => {
      val synth = udf((text: String) => BinaryParsers.synthXlsx(text))
      val files = t(s, dir, "documents").select(
        col("doc_id"), synth(col("text")).as("content"),
        lit(".xlsx").as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("parser"), col("parse_status"),
          col("text"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, 'xlsx' AS parser,
        |  CASE WHEN regexp_matches(text, '\S') THEN 'ok'
        |    ELSE 'empty' END AS parse_status,
        |  CASE WHEN regexp_matches(text, '\S') THEN text
        |    ELSE '' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- HTML tag/script-strip round-trip (S8) ----
    // Wraps each document's text in markup with a script block; the
    // html parser strips the block and every tag to single spaces, so
    // the output is exactly '  ' + text + ' ' — oracle-expressible
    // because the corpus contains no angle brackets (verified).
    QueryDef("parser_html_roundtrip", (s, dir) => {
      val html = concat(lit("<script>ignore()</script><p>"),
        col("text"), lit("</p>"))
      val files = t(s, dir, "documents").select(
        col("doc_id"), html.cast("binary").as("content"),
        lit(".html").as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("parser"), col("parse_status"),
          col("text"))
        .orderBy("doc_id")
    },
    // the stripped script block and the <p> tag each become one space,
    // the closing </p> another — see the Spark query's comment
    Sql(
      """SELECT doc_id, 'html' AS parser, 'ok' AS parse_status,
        |  '  ' || text || ' ' AS text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- RFC822 email body extraction round-trip (S8) ----
    // Wraps each document's text in a synthesized header block; the
    // eml parser must strip exactly through the first blank line, so
    // the extracted body hash-checks against the original text.
    QueryDef("parser_eml_roundtrip", (s, dir) => {
      val eml = concat(
        lit("From: sender@example.com\r\nTo: list@example.com\r\n"),
        lit("Subject: doc "), col("doc_id").cast("string"),
        lit("\r\nMIME-Version: 1.0\r\n\r\n"), col("text"))
      val files = t(s, dir, "documents").select(
        col("doc_id"), eml.cast("binary").as("content"),
        lit(".eml").as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("parser"), col("parse_status"),
          col("text"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, 'eml' AS parser, 'ok' AS parse_status, text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- legacy .doc extraction round-trip (S8): a real CFB compound
    //      file (ministream layout) with a WordDocument FIB + CLX piece
    //      table is synthesized around each document's text, then
    //      extracted back through the Cfb reader + piece-table parser;
    //      the oracle hash-checks the identity ----
    QueryDef("parser_doc_roundtrip", (s, dir) => {
      val synth = udf((text: String) => BinaryParsers.synthDoc(text))
      val files = t(s, dir, "documents").select(
        col("doc_id"), synth(col("text")).as("content"),
        lit(".doc").as("extension"))
      Parsers.parse(files)
        .select(col("doc_id"), col("parser"), col("parse_status"),
          col("text"))
        .orderBy("doc_id")
    },
    // identity oracle: the corpus has no CR/control chars (verified),
    // so the Word control-char mapping is a no-op and the compressed-
    // ANSI piece round-trips the text byte-exactly
    Sql(
      """SELECT doc_id, 'doc' AS parser,
        |  CASE WHEN regexp_matches(text, '\S') THEN 'ok'
        |    ELSE 'empty' END AS parse_status,
        |  CASE WHEN regexp_matches(text, '\S') THEN text
        |    ELSE '' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- S3 IMAP staged-mailbox scan + incremental cursor: synthetic
    //      RFC822 messages over the documents table run through the
    //      REAL post-socket scan surface (parseStaged: header unfold /
    //      MIME decode / RFC2822 date / FileReference projection) and
    //      the UIDVALIDITY-reset incremental rule (newSince). The
    //      cursor says: INBOX seen through uid 300 (same uidvalidity
    //      → only uid>300 are new), Archive's uidvalidity CHANGED
    //      (→ every message new despite a huge last_uid), Reports
    //      unknown (→ every message new). ----
    QueryDef("imap_scan", (s, dir) => {
      val staged = syntheticMailboxRelation(s, dir)
      val scan = ImapConnector.parseStaged(staged, "mail.example.com")
      import s.implicits._
      val cursor = Seq(("INBOX", 7L, 300L), ("Archive", 11L, 999999L))
        .toDF("mailbox", "uidvalidity", "last_uid")
      ImapConnector.newSince(scan, cursor)
        .select(col("mailbox"), col("uid"), col("uidvalidity"),
          col("uri"), col("message_id"), col("subject"), col("filename"),
          col("from_addr"), col("to_addr"), col("date"),
          col("size_bytes"), col("change_hint"), col("body"))
        .orderBy("mailbox", "uid")
    }, Sql(
      (imapMessageCtes +
      """,
        |cur(mailbox, cur_uv, cur_last) AS (
        |  VALUES ('INBOX', 7, 300), ('Archive', 11, 999999))
        |SELECT mailbox, uid, uidvalidity,
        |  'imap://mail.example.com/' || mailbox || ';uid=' || uid AS uri,
        |  '<m' || uid || '@example.com>' AS message_id,
        |  'doc ' || uid AS subject,
        |  'doc ' || uid || '.eml' AS filename,
        |  'sender@example.com' AS from_addr,
        |  'list@example.com' AS to_addr,
        |  '2024-02-01T10:30:00Z' AS "date",
        |  CAST(octet_length(encode(raw)) AS BIGINT) AS size_bytes,
        |  CAST(uid AS VARCHAR) AS change_hint,
        |  text AS body
        |FROM m2 LEFT JOIN cur USING (mailbox)
        |WHERE cur_last IS NULL OR uidvalidity <> cur_uv OR uid > cur_last
        |ORDER BY mailbox, uid""".stripMargin))),

    // ---- the SAME staged-mailbox contract through the DataSource V2
    //      surface: spark.read.format("graft-imap") with mailbox
    //      directory pruning + uid file pruning pushed into the scan
    //      and a real on-disk fixture (ImapDsv2Spec proves pruned
    //      files are never opened; the oracle checks the parsed
    //      output through the same arithmetic as imap_scan). ----
    QueryDef("imap_scan_v2", (s, dir) => {
      val root = stagedImapRoot(s, dir)
      s.read.format("graft-imap").option("host", "mail.example.com")
        .load(root)
        .filter(col("mailbox") === "INBOX" && col("uid") >= 30)
        .select(col("mailbox"), col("uid"), col("uidvalidity"), col("uri"),
          col("message_id"), col("subject"), col("filename"),
          col("from_addr"), col("to_addr"), col("date"),
          col("size_bytes"), col("change_hint"), col("body"))
        .orderBy("uid")
    },
    // S3: the oracle rebuilds the synthetic RFC822 bytes, the parsed
    // header surface, and the UIDVALIDITY-reset incremental rule in
    // SQL; the fixed Date header pins the RFC2822→ISO conversion
    Sql(
      (imapMessageCtes +
      """
        |SELECT mailbox, uid, uidvalidity,
        |  'imap://mail.example.com/' || mailbox || ';uid=' || uid AS uri,
        |  '<m' || uid || '@example.com>' AS message_id,
        |  'doc ' || uid AS subject,
        |  'doc ' || uid || '.eml' AS filename,
        |  'sender@example.com' AS from_addr,
        |  'list@example.com' AS to_addr,
        |  '2024-02-01T10:30:00Z' AS "date",
        |  CAST(octet_length(encode(raw)) AS BIGINT) AS size_bytes,
        |  CAST(uid AS VARCHAR) AS change_hint,
        |  text AS body
        |FROM m2
        |WHERE mailbox = 'INBOX' AND uid >= 30
        |ORDER BY uid""".stripMargin))),

    // ---- S2 git enumeration + blob-sha change hints: two synthetic
    //      staged trees over the documents table run through the REAL
    //      relational scan half (toFileRefs: empty-file/max-size skip
    //      rules, git:// uri rewrite, blob-sha change hint) and
    //      diffByChangeHint. The oracle checks the change-detection
    //      SEMANTICS — status flips exactly when content differs —
    //      through the sha comparison (DuckDB has no sha1; blob-sha
    //      bit-exactness vs `git hash-object` is pinned by
    //      GitConnectorSpec). ----
    QueryDef("git_changehint", (s, dir) => {
      val docs = t(s, dir, "documents")
      val repoUrl = "github.com/example/repo"
      def tree(d: org.apache.spark.sql.DataFrame, alter: Boolean) = {
        val content =
          if (alter)
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v1]")))
              .otherwise(col("text"))
          else // current tree truncates every 101st doc to empty (the
               // ref's empty-file skip rule must drop it → "deleted")
            when(col("doc_id") % 101 === 0, lit("")).otherwise(col("text"))
        d.select(
            concat(lit("file:/stage/repo/src/doc_"),
              col("doc_id").cast("string"), lit(".txt")).as("uri"),
            content.cast("binary").as("content"))
          .withColumn("size_bytes", length(col("content")).cast("long"))
      }
      val cur = GitConnector.toFileRefs(tree(docs, alter = false),
        repoUrl, "/stage/repo", "main", "cafe0001", maxFileSize = 4096)
      val prev = GitConnector.toFileRefs(
        tree(docs.filter(col("doc_id") < 450), alter = true),
        repoUrl, "/stage/repo", "main", "cafe0000", maxFileSize = 4096)
      GitConnector.diffByChangeHint(cur, prev)
        .join(cur.select(col("relative_path"), col("uri"),
          col("size_bytes")), Seq("relative_path"), "left")
        .select("relative_path", "status", "uri", "size_bytes")
        .orderBy("relative_path")
    },
    // S2: change-detection semantics through the blob sha — the oracle
    // compares CONTENT where Spark compares sha1 blob hashes (DuckDB
    // has no sha1; hash bit-exactness is pinned by GitConnectorSpec
    // against `git hash-object`). Skip rules and uri rewrite mirrored.
    Sql(
      """WITH cur0 AS (
        |  SELECT doc_id, 'src/doc_' || doc_id || '.txt' AS relative_path,
        |    CASE WHEN doc_id % 101 = 0 THEN '' ELSE text END AS content
        |  FROM documents),
        |cur AS (
        |  SELECT relative_path, content,
        |    'git://github.com/example/repo/src/doc_' || doc_id || '.txt'
        |      AS uri,
        |    CAST(octet_length(encode(content)) AS BIGINT) AS size_bytes
        |  FROM cur0
        |  WHERE octet_length(encode(content)) > 0
        |    AND octet_length(encode(content)) <= 4096),
        |prev0 AS (
        |  SELECT doc_id, 'src/doc_' || doc_id || '.txt' AS relative_path,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [v1]'
        |      ELSE text END AS content
        |  FROM documents WHERE doc_id < 450),
        |prev AS (
        |  SELECT relative_path, content FROM prev0
        |  WHERE octet_length(encode(content)) > 0
        |    AND octet_length(encode(content)) <= 4096)
        |SELECT coalesce(c.relative_path, p.relative_path)
        |    AS relative_path,
        |  CASE WHEN p.relative_path IS NULL THEN 'added'
        |    WHEN c.relative_path IS NULL THEN 'deleted'
        |    WHEN c.content = p.content THEN 'unchanged'
        |    ELSE 'modified' END AS status,
        |  c.uri AS uri, c.size_bytes AS size_bytes
        |FROM cur c FULL OUTER JOIN prev p
        |  ON c.relative_path = p.relative_path
        |ORDER BY 1""".stripMargin))
  )
}

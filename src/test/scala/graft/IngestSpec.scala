package graft

import graft.sources.Ingest
import org.apache.spark.sql.functions.{base64, length, sum}
import java.nio.file.Files

/** SURVEY.md §2.2 U-rows: ingestion/serving edges round-trip through real
  * files in a temp dir.
  */
class IngestSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-ingest").toString

  // ---- shared CCITT fixtures (two tests drive the fax decode path) ----

  private def ccittBilevel(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if ((x / 7 + y / 4) % 2 == 0) 0xFFFFFF else 0)
    img
  }

  private def ccittSamePixels(a: java.awt.image.BufferedImage,
                              b: java.awt.image.BufferedImage): Boolean =
    a.getWidth == b.getWidth && a.getHeight == b.getHeight &&
      (0 until a.getHeight).forall(y => (0 until a.getWidth).forall(x =>
        (a.getRGB(x, y) & 0xFFFFFF) == (b.getRGB(x, y) & 0xFFFFFF)))

  /** Encode via the JDK's own T.4/T.6 writer and extract (strip bytes,
    * T4Options) by a minimal IFD walk — the independent fax bitstreams
    * the decode tests round-trip against (no circular self-encode).
    * Asserts the fixture stays single-strip: a multi-strip TIFF would
    * silently mis-slice.
    */
  private def encodeCcitt(img: java.awt.image.BufferedImage,
                          typ: String): (Array[Byte], Long) = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType(typ)
    val bo = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bo)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    val t = bo.toByteArray
    val le = t(0) == 'I'.toByte
    def u16(o: Int) = if (le) (t(o) & 0xff) | ((t(o + 1) & 0xff) << 8)
                      else ((t(o) & 0xff) << 8) | (t(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (le) (0 to 3).map(i => (t(o + i) & 0xffL) << (8 * i)).sum
      else (0 to 3).map(i => (t(o + i) & 0xffL) << (8 * (3 - i))).sum
    val ifd = u32(4).toInt
    val tags = (0 until u16(ifd)).map { i =>
      val e = ifd + 2 + i * 12
      val typId = u16(e + 2)
      assert(u32(e + 4) == 1L, s"tag ${u16(e)}: multi-count IFD entry — use a smaller fixture")
      u16(e) -> (if (typId == 3) u16(e + 8).toLong else u32(e + 8))
    }.toMap
    (t.slice(tags(273).toInt, (tags(273) + tags(279)).toInt), tags.getOrElse(292, 0L))
  }

  test("src_csv_scan: header+inferSchema round-trip") {
    val p = s"$tmp/in.csv"
    Files.writeString(java.nio.file.Paths.get(p),
      "id,name,score\n1,alpha,2.5\n2,beta,4.0\n")
    val df = Ingest.readCsv(spark, p)
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    assert(df.schema("id").dataType.typeName == "integer")
    assert(df.as[(Int, String, Double)].collect().sorted.toSeq ==
      Seq((1, "alpha", 2.5), (2, "beta", 4.0)))
  }

  test("src_csv_scan: explicit schema skips inference") {
    val p = s"$tmp/in2.csv"
    Files.writeString(java.nio.file.Paths.get(p), "id,v\n1,x\n")
    val df = Ingest.readCsv(spark, p, Some("id LONG, v STRING"))
    assert(df.schema("id").dataType.typeName == "long")
  }

  test("src_json_scan: json-lines round-trip") {
    val p = s"$tmp/in.jsonl"
    Files.writeString(java.nio.file.Paths.get(p),
      """{"id":1,"tag":"a"}""" + "\n" + """{"id":2,"tag":"b"}""" + "\n")
    val df = Ingest.readJson(spark, p)
    assert(df.select($"id", $"tag").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("sink_parquet_bronze + re-read: lake round-trip") {
    val src = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    Ingest.writeBronze(src, tmp, "bronze_t")
    val back = spark.read.parquet(s"$tmp/bronze_t.parquet")
    assert(back.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("sink_parquet_partitioned: hive layout + partition-pruned read-back") {
    val src = Seq((1L, "de", 10), (2L, "de", 20), (3L, "es", 30), (4L, "fr", 40))
      .toDF("id", "lang", "x")
    Ingest.writeBronzePartitioned(src, tmp, "part_t", Seq("lang"))
    // hive directory layout: one lang=<value>/ dir per partition value
    assert(new java.io.File(s"$tmp/part_t.parquet/lang=de").isDirectory)
    val back = spark.read.parquet(s"$tmp/part_t.parquet").filter($"lang" === "de")
    assert(back.count() == 2)
    // the filter must prune PARTITIONS (directory-level), not just rows:
    // it appears in PartitionFilters, and the scan reads only lang=de
    val p = back.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), s"partition filter not pushed: $pf")
    // PlanGuard integration (round 12): the preflight gate catches an
    // unpruned read of this same partitioned bronze — and stays quiet
    // on the pruned read above
    val full = spark.read.parquet(s"$tmp/part_t.parquet").groupBy($"lang").count()
    assert(graft.plans.PlanGuard.audit(full)
      .exists(_.kind == "unpruned-partitioned-scan"))
    assert(graft.plans.PlanGuard.audit(back).isEmpty)
  }

  for ((form, lakeOf) <- lakeDirForms) {
    lazy val local = Files.createTempDirectory("graft-sink").toString
    lazy val lake = lakeOf(local)

    test(s"sink_upsert: batch keys replace, new keys append, others survive$form") {
      val t0 = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1)).toDF("k", "v", "ver")
      Ingest.upsertBronze(t0, lake, "upsert_t", "k")
      // batch: updates k=2, inserts k=4
      val batch = Seq((2L, "B", 2), (4L, "d", 2)).toDF("k", "v", "ver")
      Ingest.upsertBronze(batch, lake, "upsert_t", "k")
      val back = spark.read.parquet(s"$local/upsert_t.parquet")
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      assert(back == Seq((1L, "a", 1), (2L, "B", 2), (3L, "c", 1), (4L, "d", 2)))
      assert(!new java.io.File(s"$local/upsert_t.parquet.__staging__").exists(),
        "staging dir must be swapped away")
      // a batch with two versions of one key has no well-defined winner —
      // must fail loudly, not land both rows
      val dupBatch = Seq((5L, "x", 1), (5L, "y", 2)).toDF("k", "v", "ver")
      intercept[IllegalArgumentException] {
        Ingest.upsertBronze(dupBatch, lake, "upsert_t", "k")
      }
    }

    test(s"sink_compact: many small files become nFiles, data unchanged$form") {
      val src = spark.range(1000).toDF("k").repartition(32)
      Ingest.writeBronze(src, lake, "compact_t")
      def parts(p: String) = new java.io.File(p).listFiles()
        .count(f => f.getName.startsWith("part-"))
      assert(parts(s"$local/compact_t.parquet") == 32)
      Ingest.compactBronze(spark, lake, "compact_t", 2)
      assert(parts(s"$local/compact_t.parquet") == 2)
      val back = spark.read.parquet(s"$local/compact_t.parquet")
      assert(back.count() == 1000)
      assert(back.agg(sum($"k")).as[Long].head() == 499500L)
    }
  }

  test("sink_csv_export: header preserved") {
    val src = Seq((1L, "x")).toDF("k", "v")
    Ingest.exportCsv(src, s"$tmp/out_csv")
    val back = Ingest.readCsv(spark, s"$tmp/out_csv")
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.count() == 1)
  }

  test("sink_json_serve: bounded, ordered head-N") {
    val src = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v")
    val out = Ingest.serveJsonHead(src, "k", 2)
    assert(out == Seq("""{"k":1,"v":"a"}""", """{"k":2,"v":"b"}"""))
  }

  test("src_xml_scan + sink_xml: rowTag round-trip preserves rows") {
    val p = s"$tmp/in.xml"
    Files.writeString(java.nio.file.Paths.get(p),
      """<items><item><id>1</id><tag>a &amp; b</tag></item>""" +
        """<item><id>2</id><tag>c</tag></item></items>""")
    val df = Ingest.readXml(spark, p, rowTag = "item")
    assert(df.select($"id", $"tag").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a & b"), (2L, "c")))
    // write side: rowTag/rootTag layout reads back identically
    Ingest.writeXml(df.select($"id", $"tag"), tmp, "items_out", rowTag = "item")
    val back = Ingest.readXml(spark, s"$tmp/items_out.xml", rowTag = "item")
    assert(back.select($"id", $"tag").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a & b"), (2L, "c")))
  }

  test("src_text_scan: one row per line with source path") {
    val p = s"$tmp/raw.txt"
    Files.writeString(java.nio.file.Paths.get(p), "alpha\nbeta gamma\n")
    val rows = Ingest.readTextLines(spark, p)
      .as[(String, String)].collect().toSeq
    assert(rows.map(_._2).sorted == Seq("alpha", "beta gamma"))
    assert(rows.forall(_._1.endsWith("raw.txt")))
  }

  test("src_orc_scan + sink_orc: lake round-trip preserves schema and rows") {
    val src = Seq((1L, "x", 2.5), (2L, "y", 4.0)).toDF("k", "v", "w")
    Ingest.writeOrc(src, tmp, "orc_t")
    val back = Ingest.readOrc(spark, s"$tmp/orc_t.orc")
    // names+types survive; nullability widens on file-source read (same
    // as parquet), so compare the data-shape, not the nullable flags
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "x", 2.5), (2L, "y", 4.0)))
  }

  test("src_parquet_merge_schema: evolved columns union under mergeSchema") {
    // schema evolution is routine on a long-lived lake: a new ingest
    // adds a column, old files lack it — mergeSchema reads must union
    // the schemas and null-fill the missing column
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$tmp/evolve_t.parquet/d=1")
    Seq((2L, "b", 9)).toDF("k", "v", "extra").write.parquet(s"$tmp/evolve_t.parquet/d=2")
    val back = spark.read.option("mergeSchema", "true").parquet(s"$tmp/evolve_t.parquet")
    assert(back.columns.toSet == Set("k", "v", "extra", "d"))
    val rows = back.select($"k", $"extra").as[(Long, Option[Int])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, None), (2L, Some(9))), "old files null-fill the new column")
  }

  test("src_parquet_corrupt: ignoreCorruptFiles skips the bad file, keeps the rest") {
    // at lake scale some file is always corrupt (partial upload, bit
    // rot) — the read must be able to degrade to the intact files
    // instead of failing the whole job
    Seq((1L, "ok")).toDF("k", "v").write.parquet(s"$tmp/corrupt_t.parquet")
    val part = new java.io.File(s"$tmp/corrupt_t.parquet").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.write(
      new java.io.File(part.getParentFile, "part-corrupt.snappy.parquet").toPath,
      Array.fill[Byte](64)(0x13))
    intercept[Exception] { // default: corrupt file fails the read
      spark.read.parquet(s"$tmp/corrupt_t.parquet").count()
    }
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(spark.read.parquet(s"$tmp/corrupt_t.parquet").count() == 1)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None    => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  /** A real .xlsx built in the test via ZipOutputStream: shared +
    * inline strings, booleans, numbers, a skipped cell, an XML entity —
    * the XlsxText paths against real ZIP structure. No binary fixture
    * in git.
    */
  private def fixtureXlsx(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(out)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">""" +
        "<si><t>name</t></si><si><t>alpha &amp; beta</t></si>" +
        "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>")
    // styles: xf 0 = General, xf 1 = builtin date (14), xf 2 = custom
    // yyyy-mm-dd (164), xf 3 = builtin datetime (22), xf 4 = builtin
    // time (45) — the date-serial resolution paths
    part("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/></numFmts>""" +
        """<cellXfs count="5"><xf numFmtId="0" fontId="0"/><xf numFmtId="14" applyNumberFormat="1"/>""" +
        """<xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="22" applyNumberFormat="1"/>""" +
        """<xf numFmtId="45" applyNumberFormat="1"/></cellXfs></styleSheet>""")
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        // header: name (shared), score (inline str), ok (untyped via v)
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="str"><v>score</v></c><c r="C1" t="str"><v>ok</v></c></row>""" +
        // data row: shared string w/ entity, number, boolean
        """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>2.5</v></c><c r="C2" t="b"><v>1</v></c></row>""" +
        // data row: rich-text shared string, SELF-CLOSING styled-empty B
        // cell (Excel's common empty-but-styled shape — must not swallow
        // C3), inlineStr
        """<row r="3"><c r="A3" t="s"><v>2</v></c><c r="B3" s="1"/><c r="C3" t="inlineStr"><is><t>no</t></is></c></row>""" +
        // SELF-CLOSING row (must not merge with row 5), then a tail row
        """<row r="4" ht="15"/>""" +
        """<row r="5"><c r="A5" t="str"><v>tail</v></c></row>""" +
        "</sheetData></worksheet>")
    zip.close()
    out.toByteArray
  }

  test("src_excel_scan native: zip+xml cells to a header'd DataFrame") {
    val p = s"$tmp/book.xlsx"
    Files.write(java.nio.file.Paths.get(p), fixtureXlsx())
    val df = Ingest.readXlsx(spark, p)
    assert(df.columns.toSeq == Seq("name", "score", "ok"))
    val rows = df.as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      ("", "", ""), // self-closing <row/> surfaces as its own empty row
      ("alpha & beta", "2.5", "true"),
      ("rich", "", "no"), // styled-empty B3 stays empty, C3 survives it
      ("tail", "", "")), s"got $rows")
  }

  test("src_excel_scan: date-styled serials render as ISO strings") {
    // serial 1 / 59 sit on the phantom-1900-02-29 side (one day behind
    // the 1899-12-30 epoch), 61 after it; 44927 = 2023-01-01 pins the
    // modern era; .5 fraction = noon; style 4 (builtin 45) is time-only.
    val out = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(out)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/styles.xml",
      """<styleSheet><numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/></numFmts>""" +
        """<cellXfs count="5"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/>""" +
        """<xf numFmtId="22"/><xf numFmtId="45"/></cellXfs></styleSheet>""")
    part("xl/worksheets/sheet1.xml",
      "<worksheet><sheetData>" +
        """<row r="1"><c r="A1" s="1"><v>1</v></c><c r="B1" s="1"><v>59</v></c>""" +
        """<c r="C1" s="1"><v>61</v></c><c r="D1" s="2"><v>44927</v></c>""" +
        """<c r="E1" s="3"><v>44927.5</v></c><c r="F1" s="4"><v>0.75</v></c>""" +
        """<c r="G1"><v>44927</v></c></row>""" +
        "</sheetData></worksheet>")
    zip.close()
    val rows = graft.sources.XlsxText.extractRows(out.toByteArray)
    assert(rows.size == 1)
    assert(rows.head.toSeq == Seq(
      "1900-01-01", "1900-02-28", "1900-03-01", // phantom-day handling
      "2023-01-01",                             // custom yyyy-mm-dd
      "2023-01-01 12:00:00",                    // builtin datetime 22
      "18:00:00",                               // builtin time 45
      "44927"),                                 // unstyled serial stays raw
      s"got ${rows.head.toSeq}")
  }

  /** A real 2-page PDF built byte-for-byte in the test: page 1 raw, page
    * 2 FlateDecode — both PdfText decode paths and the four show
    * operators (Tj, TJ array, ', hex) face real file structure. No
    * binary fixture in git; the bytes are constructed here.
    */
  private def fixturePdf(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val page1 =
      "BT /F1 12 Tf 72 720 Td (Hello \\(Spark\\) engine) Tj T* " +
        "[ (Gra) -20 (ft) ] TJ <576f726c64> Tj (line \\101) Tj ET"
    val deflater = new java.util.zip.Deflater()
    val p2raw = "BT (Compressed) Tj T* [ (pa) (ge) ] TJ (two) ' ET"
      .getBytes("ISO-8859-1")
    deflater.setInput(p2raw); deflater.finish()
    val p2buf = new Array[Byte](4096)
    val p2len = deflater.deflate(p2buf)
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${page1.length} >> stream\n")
    w(page1); w("\nendstream endobj\n")
    w("5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length $p2len /Filter /FlateDecode >> stream\n")
    out.write(p2buf, 0, p2len); w("\nendstream endobj\n")
    w("%%EOF\n")
    out.toByteArray
  }

  test("src_pdf_scan: real text extraction, raw + FlateDecode pages") {
    val p = s"$tmp/real.pdf"
    Files.write(java.nio.file.Paths.get(p), fixturePdf())
    val rows = Ingest.readPdfPages(spark, p)
      .orderBy($"page").select($"page", $"content")
      .as[(Int, String)].collect().toSeq
    assert(rows.map(_._1) == Seq(1, 2))
    val pg1 = rows.head._2
    // escaped parens, TJ concat, hex string, octal \101='A'
    assert(pg1.contains("Hello (Spark) engine"), s"page1: $pg1")
    assert(pg1.contains("Graft"), s"page1: $pg1")
    assert(pg1.contains("World"), s"page1: $pg1")
    assert(pg1.contains("line A"), s"page1: $pg1")
    // T* between shows became a line break
    assert(pg1.contains("\n"), s"page1 should be multi-line: $pg1")
    val pg2 = rows(1)._2
    assert(pg2.contains("Compressed"), s"page2: $pg2")
    assert(pg2.contains("page"), s"page2: $pg2")
    assert(pg2.contains("two"), s"page2: $pg2")
  }

  test("src_pdf_scan: /Length slices a payload containing literal 'endstream'") {
    // A content stream whose BYTES contain the word "endstream" (for
    // Flate output this happens by chance at corpus scale): the
    // boundary scan alone would truncate the payload mid-literal and
    // drop the page text; the dict's direct-integer /Length is the
    // authoritative slice.
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val content = "BT (before endstream after) Tj ET"
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    w("%%EOF\n")
    val p = s"$tmp/len.pdf"
    Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    val rows = Ingest.readPdfPages(spark, p)
      .orderBy($"page").select($"content").as[String].collect().toSeq
    assert(rows.size == 1, s"expected one page, got $rows")
    assert(rows.head.contains("before endstream after"), s"got $rows")
  }

  test("src_pdf_scan: ToUnicode CMap resolves CID hex strings") {
    // A CID-keyed font's glyph codes are arbitrary 2-byte values; the
    // embedded ToUnicode CMap is the only route back to text. bfchar
    // maps 0041->H 0042->i 0045->"ffi" (multi-char dst), bfrange covers
    // 0050-0052 -> abc (consecutive) and 0060-0061 -> [X Y] (list
    // form). The CMap stream itself is Flate-compressed and must not
    // surface as a page.
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |3 beginbfchar
        |<0041> <0048>
        |<0042> <0069>
        |<0045> <006600660069>
        |endbfchar
        |2 beginbfrange
        |<0050> <0052> <0061>
        |<0060> <0061> [<0058> <0059>]
        |endbfrange
        |endcmap""".stripMargin
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(cmap.getBytes("ISO-8859-1")); deflater.finish()
    val cbuf = new Array[Byte](8192)
    val clen = deflater.deflate(cbuf)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val content = "BT <00410042> Tj T* <005000510052> Tj T* <0045> Tj T* <00600061> Tj ET"
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    w(s"5 0 obj << /Length $clen /Filter /FlateDecode >> stream\n")
    out.write(cbuf, 0, clen); w("\nendstream endobj\n")
    w("%%EOF\n")
    val p = s"$tmp/cid.pdf"
    Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    val rows = Ingest.readPdfPages(spark, p)
      .orderBy($"page").select($"content").as[String].collect().toSeq
    assert(rows.size == 1, s"CMap stream must not surface as a page: $rows")
    val pg = rows.head
    assert(pg.contains("Hi"), s"bfchar: $pg")
    assert(pg.contains("abc"), s"bfrange consecutive: $pg")
    assert(pg.contains("ffi"), s"multi-char dst: $pg")
    assert(pg.contains("XY"), s"bfrange list form: $pg")
  }

  test("src_pdf_scan: LZW and ASCII85+Flate filter chains decode; DCT streams are skipped") {
    // Page 1: /LZWDecode (9->12-bit TIFF codes, EarlyChange) — encoded
    // here by a minimal LZW encoder so the decoder faces real growing-
    // table output. Page 2: /Filter [/ASCII85Decode /FlateDecode] — a
    // chain applied in array order. A /DCTDecode stream must be
    // skipped, not emitted raw as a garbage page.
    def lzwEncode(data: Array[Byte]): Array[Byte] = {
      val dict = scala.collection.mutable.Map.empty[Seq[Byte], Int]
      for (c <- 0 until 256) dict(Seq(c.toByte)) = c
      var next = 258; var width = 9
      val out = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L; var bitCnt = 0
      def put(code: Int): Unit = {
        bitBuf = (bitBuf << width) | code; bitCnt += width
        while (bitCnt >= 8) { out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8 }
      }
      put(256) // leading clear-table per spec
      var cur = Seq.empty[Byte]
      for (b <- data) {
        val ext = cur :+ b
        if (dict.contains(ext)) cur = ext
        else {
          put(dict(cur)); dict(ext) = next; next += 1
          // EarlyChange=1: encoder widens when the NEXT code might not fit
          if (next >= (1 << width) - 1 && width < 12) width += 1
          cur = Seq(b)
        }
      }
      if (cur.nonEmpty) put(dict(cur))
      put(257) // EOD
      if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
      out.toByteArray
    }
    def a85Encode(data: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < data.length) {
        val n = math.min(4, data.length - i)
        var v = 0L
        for (k <- 0 until 4) v = (v << 8) | (if (k < n) data(i + k) & 0xffL else 0L)
        val cs = Array.fill(5)(' ')
        var rem = v
        for (k <- 4 to 0 by -1) { cs(k) = ('!' + (rem % 85).toInt).toChar; rem /= 85 }
        sb.appendAll(cs, 0, n + 1)
        i += n
      }
      sb.append("~>").toString
    }
    val p1 = "BT (lzw page text repeats repeats repeats) Tj ET".getBytes("ISO-8859-1")
    val lzw = lzwEncode(p1)
    val deflater = new java.util.zip.Deflater()
    val p2raw = "BT (chained page) Tj ET".getBytes("ISO-8859-1")
    deflater.setInput(p2raw); deflater.finish()
    val zbuf = new Array[Byte](4096)
    val zlen = deflater.deflate(zbuf)
    val a85 = a85Encode(java.util.Arrays.copyOf(zbuf, zlen)).getBytes("ISO-8859-1")
    val dct = "BT (should never surface) Tj ET".getBytes("ISO-8859-1")
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w(s"1 0 obj << /Length ${lzw.length} /Filter /LZWDecode >> stream\n")
    out.write(lzw); w("\nendstream endobj\n")
    w(s"2 0 obj << /Length ${a85.length} /Filter [/ASCII85Decode /FlateDecode] >> stream\n")
    out.write(a85); w("\nendstream endobj\n")
    w(s"3 0 obj << /Length ${dct.length} /Filter /DCTDecode >> stream\n")
    out.write(dct); w("\nendstream endobj\n")
    w("%%EOF\n")
    val p = s"$tmp/filters.pdf"
    Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    val rows = Ingest.readPdfPages(spark, p)
      .orderBy($"page").select($"content").as[String].collect().toSeq
    assert(rows.size == 2, s"DCT stream must be skipped: $rows")
    assert(rows.head.contains("lzw page text repeats repeats repeats"), s"lzw: ${rows.head}")
    assert(rows(1).contains("chained page"), s"chain: ${rows(1)}")
  }

  test("src_pdf_scan: embedded DCTDecode image decodes to a real raster (readPdfImages)") {
    // A genuine JPEG (ImageIO-written solid color) planted as an
    // /Subtype /Image XObject with /Filter /DCTDecode, beside a normal
    // text page. readPdfImages must surface the JPEG with its true
    // dimensions (DCTDecode IS baseline JPEG — the JDK decodes it);
    // readPdfPages must keep skipping it (an image is not page text).
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    gfx.setColor(new java.awt.Color(200, 30, 30))
    gfx.fillRect(0, 0, 8, 6); gfx.dispose()
    val jb = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", jb), "JDK must ship a JPEG writer")
    val jpg = jb.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    val txt = "BT (text beside img) Tj ET"
    w(s"1 0 obj << /Length ${txt.length} >> stream\n")
    w(txt); w("\nendstream endobj\n")
    w(s"2 0 obj << /Subtype /Image /Width 8 /Height 6 /Filter /DCTDecode /Length ${jpg.length} >> stream\n")
    out.write(jpg); w("\nendstream endobj\n")
    w("%%EOF\n")
    val p = s"$tmp/img.pdf"
    Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    val assets = Ingest.readPdfImages(spark, p).collect().toSeq
    assert(assets.size == 1, s"expected exactly the planted image: $assets")
    val a = assets.head
    assert(a.width == 8 && a.height == 6, s"raster dims: ${a.width}x${a.height}")
    // the surfaced bytes are the decodable JPEG itself: the multimodal
    // perceptual path (not the byte-hash fallback) engages
    val hashed = graft.operators.Multimodal.imageHashes(
      spark.createDataset(assets)(org.apache.spark.sql.Encoders.product)).collect()
    assert(hashed.length == 1 && hashed.head.decoded,
      "planted JPEG must take the REAL-decode dHash path")
    // and the raster is the planted solid color (center pixel ~red;
    // JPEG is lossy so compare channel-dominance, not exact bytes)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.data))
    val rgb = back.getRGB(4, 3)
    val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
    assert(r > 120 && r > g + 50 && r > b + 50, s"center pixel should be red-ish: ($r,$g,$b)")
    // text extraction is unaffected — and still never emits the image
    val pages = Ingest.readPdfPages(spark, p).select($"content").as[String].collect().toSeq
    assert(pages.size == 1 && pages.head.contains("text beside img"), pages.toString)
  }

  test("src_pdf_scan: embedded CCITTFaxDecode G4/G3 images decode to real rasters") {
    // Reference CCITT bitstreams come from the JDK's own TIFF CCITT
    // ENCODER (an independent implementation of T.4/T.6), so the
    // round-trip is encoder(JDK) → CcittTiff wrap → decoder(JDK TIFF
    // reader) with pixel-exact comparison — no circular self-encode.
    val img = ccittBilevel(64, 20)
    // G4 (PDF /K -1 ↔ TIFF compression 4)
    val (g4, _) = encodeCcitt(img, "CCITT T.6")
    val dec4 = graft.sources.CcittTiff.decode(g4, 64, 20, -1,
      blackIs1 = false, byteAlign = false)
    assert(dec4.exists(ccittSamePixels(_, img)), "G4 wrap-decode must be pixel-exact")
    // G3 (the JDK T.4 writer emits the 2D-mixed form — T4Options bit 0
    // — which is PDF /K > 0)
    val (g3, t4opts) = encodeCcitt(img, "CCITT T.4")
    val k = if ((t4opts & 1L) != 0) 1 else 0
    val dec3 = graft.sources.CcittTiff.decode(g3, 64, 20, k,
      blackIs1 = false, byteAlign = (t4opts & 4L) != 0)
    assert(dec3.exists(ccittSamePixels(_, img)), s"G3 wrap-decode must be pixel-exact (T4Options=$t4opts)")
    // end-to-end through a PDF: /CCITTFaxDecode image XObject beside a
    // text page — images surface as decodable PNG assets, text is
    // unaffected, and the image stream never leaks into page text
    val out = new java.io.ByteArrayOutputStream()
    def ws(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    ws("%PDF-1.4\n")
    val txt = "BT (text beside fax) Tj ET"
    ws(s"1 0 obj << /Length ${txt.length} >> stream\n"); ws(txt)
    ws("\nendstream endobj\n")
    ws(s"2 0 obj << /Subtype /Image /Width 64 /Height 20 " +
      s"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns 64 /Rows 20 >> " +
      s"/Length ${g4.length} >> stream\n")
    out.write(g4); ws("\nendstream endobj\n")
    ws("%%EOF\n")
    val p = s"$tmp/fax.pdf"
    Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    val pngs = graft.sources.PdfText.ccittImages(out.toByteArray)
    assert(pngs.size == 1, s"expected the planted fax image, got ${pngs.size}")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pngs.head))
    assert(ccittSamePixels(back, img), "PDF-extracted fax raster must match the source")
    // and the G3 branch through the PDF dict params (/K > 0 = the
    // mixed-2D form the JDK encoder emits; EncodedByteAlign from the
    // T4Options fill bit)
    val out3 = new java.io.ByteArrayOutputStream()
    def w3(s: String): Unit = out3.write(s.getBytes("ISO-8859-1"))
    w3("%PDF-1.4\n")
    w3(s"1 0 obj << /Subtype /Image /Width 64 /Height 20 " +
      s"/Filter /CCITTFaxDecode /DecodeParms << /K $k /Columns 64 /Rows 20" +
      (if ((t4opts & 4L) != 0) " /EncodedByteAlign true" else "") +
      s" >> /Length ${g3.length} >> stream\n")
    out3.write(g3); w3("\nendstream endobj\n")
    w3("%%EOF\n")
    val pngs3 = graft.sources.PdfText.ccittImages(out3.toByteArray)
    assert(pngs3.size == 1, s"G3 PDF image must extract: got ${pngs3.size}")
    val back3 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pngs3.head))
    assert(ccittSamePixels(back3, img), "G3 PDF-extracted raster must match the source")
    val assets = Ingest.readPdfImages(spark, p).collect().toSeq
    assert(assets.size == 1 && assets.head.width == 64 && assets.head.height == 20)
    val hashed = graft.operators.Multimodal.imageHashes(
      spark.createDataset(assets)(org.apache.spark.sql.Encoders.product)).collect()
    assert(hashed.length == 1 && hashed.head.decoded,
      "fax raster must take the REAL-decode dHash path")
    val pages = Ingest.readPdfPages(spark, p).select($"content").as[String].collect().toSeq
    assert(pages.size == 1 && pages.head.contains("text beside fax"), pages.toString)
  }

  test("src_pdf_scan: /BlackIs1 XOR /Decode [1 0] polarity; mixed-codec PDFs keep document stream order") {
    def inverted(a: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
      val o = new java.awt.image.BufferedImage(a.getWidth, a.getHeight,
        java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
      for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
        o.setRGB(x, y, ~a.getRGB(x, y) & 0xFFFFFF)
      o
    }
    val img = ccittBilevel(64, 20)
    val g4 = encodeCcitt(img, "CCITT T.6")._1
    def faxPdf(extraDictEntries: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ws(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
      ws("%PDF-1.4\n")
      ws(s"1 0 obj << /Subtype /Image /Width 64 /Height 20 $extraDictEntries" +
        s"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns 64 /Rows 20 " +
        s"/BlackIs1 true >> /Length ${g4.length} >> stream\n")
      out.write(g4); ws("\nendstream endobj\n%%EOF\n")
      out.toByteArray
    }
    // /BlackIs1 true ALONE inverts the extracted raster vs the source
    val aloneB = graft.sources.PdfText.ccittImages(faxPdf(""))
    assert(aloneB.size == 1)
    val alone = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(aloneB.head))
    assert(ccittSamePixels(alone, inverted(img)),
      "/BlackIs1 true without /Decode must invert the packing")
    // the common writer pairing /BlackIs1 true + /Decode [1 0] CANCELS —
    // the extracted raster matches the normal-polarity source, so dHash
    // pairs with a normal copy survive (r15 ADVICE: without the XOR the
    // raster came out inverted and near-dup pairs were missed)
    val pairedB = graft.sources.PdfText.ccittImages(faxPdf("/Decode [1 0] "))
    assert(pairedB.size == 1)
    val paired = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pairedB.head))
    assert(ccittSamePixels(paired, img),
      "/BlackIs1 true + /Decode [1 0] must cancel to the standard polarity")
    // mixed-codec PDF: JPEG, CCITT, JPEG interleaved — imageStreams and
    // readPdfImages must number them by DOCUMENT position (the old
    // jpegImages ++ ccittImages concatenation put the fax LAST)
    def jpegBytes(seed: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(seed)
      for (y <- 0 until 16; x <- 0 until 16) im.setRGB(x, y, rnd.nextInt() & 0xFFFFFF)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", b)
      b.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    def ws(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    ws("%PDF-1.4\n")
    def jpgObj(n: Int, j: Array[Byte]): Unit = {
      ws(s"$n 0 obj << /Subtype /Image /Width 16 /Height 16 " +
        s"/Filter /DCTDecode /Length ${j.length} >> stream\n")
      out.write(j); ws("\nendstream endobj\n")
    }
    jpgObj(1, jpegBytes(1))
    ws(s"2 0 obj << /Subtype /Image /Width 64 /Height 20 " +
      s"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns 64 /Rows 20 >> " +
      s"/Length ${g4.length} >> stream\n")
    out.write(g4); ws("\nendstream endobj\n")
    jpgObj(3, jpegBytes(2))
    ws("%%EOF\n")
    val streams = graft.sources.PdfText.imageStreams(out.toByteArray)
    def isJpeg(b: Array[Byte]) = (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8
    def isPng(b: Array[Byte]) = (b(0) & 0xFF) == 0x89 && b(1) == 'P'.toByte
    assert(streams.size == 3 &&
      isJpeg(streams(0)) && isPng(streams(1)) && isJpeg(streams(2)),
      s"mixed PDF must surface jpeg,fax,jpeg in document order; got " +
        streams.map(b => b.take(2).map(x => f"${x & 0xFF}%02x").mkString).mkString(","))
    val p = s"$tmp/mixed.pdf"
    Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    val assets = Ingest.readPdfImages(spark, p).collect().sortBy(_.asset_id)
    assert(assets.length == 3, s"3 assets expected, got ${assets.length}")
    assert(isJpeg(assets(0).data) && isPng(assets(1).data) && isJpeg(assets(2).data),
      "asset ordinals must reflect document stream order")
  }

  test("src_pdf_scan fallback: non-PDF gets one row per 1024-char b64 slice") {
    val p = s"$tmp/fake.pdf"
    val payload = Array.fill[Byte](3000)(65)
    Files.write(java.nio.file.Paths.get(p), payload)
    val pages = Ingest.readPdfPages(spark, p)
    assert(pages.columns.toSeq == Seq("path", "page", "content"))
    // unwrapped (java.util.Base64) encoding: 3000 bytes -> 4000 chars
    val b64 = java.util.Base64.getEncoder.encodeToString(payload)
    val expected = math.ceil(b64.length / 1024.0).toInt
    val n = pages.count()
    assert(n == expected, s"base64 len ${b64.length} -> $expected pages, got $n")
    assert(pages.select("page").as[Int].collect().sorted.toSeq == (1 to expected).toSeq)
    // pages reassemble to the exact original payload
    val joined = pages.orderBy($"page").select($"content").as[String].collect().mkString
    assert(joined == b64)
  }

  test("scd2Merge: close-and-open, no-op skip, new-key insert, history pass-through") {
    import org.apache.spark.sql.functions._
    val dim = Seq(
      (1L, "A", "2020-01-01", Some("2021-01-01")), // closed history
      (1L, "B", "2021-01-01", None),               // current, will change
      (2L, "X", "2020-01-01", None),               // current, no-op resend
      (3L, "Y", "2020-01-01", None)                // current, absent from batch
    ).toDF("id", "attr", "valid_from", "valid_to")
      .withColumn("valid_to", $"valid_to".cast("string"))
    val upd = Seq((1L, "C"), (2L, "X"), (9L, "Z")).toDF("id", "attr")
    val out = sources.Ingest.scd2Merge(dim, upd, "id", "2026-01-01")
      .as[(Long, String, String, Option[String])].collect().toSet
    assert(out == Set(
      (1L, "A", "2020-01-01", Some("2021-01-01")), // history untouched
      (1L, "B", "2021-01-01", Some("2026-01-01")), // closed
      (1L, "C", "2026-01-01", None),               // new version
      (2L, "X", "2020-01-01", None),               // no-op: same row, no version
      (3L, "Y", "2020-01-01", None),               // untouched
      (9L, "Z", "2026-01-01", None)                // first version of a new key
    ), s"unexpected SCD2 result: $out")
    // idempotence: re-applying a batch equal to the now-current values
    // creates nothing (every update is a no-op against the merged dim)
    val again = sources.Ingest.scd2Merge(
      out.toSeq.toDF("id", "attr", "valid_from", "valid_to"), upd, "id", "2027-01-01")
      .as[(Long, String, String, Option[String])].collect().toSet
    assert(again == out, "re-applying the same batch must be a no-op")
    // multiple rows per key in one batch are refused loudly
    intercept[IllegalArgumentException] {
      sources.Ingest.scd2Merge(dim, Seq((1L, "C"), (1L, "D")).toDF("id", "attr"),
        "id", "2026-01-01")
    }
  }
}

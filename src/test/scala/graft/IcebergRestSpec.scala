package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, IcebergExport}
import graft.service.IcebergRestServer

/** Iceberg REST-catalog read shim: a foreign engine's `type=rest`
  * client walk — config, namespace/table discovery, LoadTableResult —
  * over real HTTP against a live graft warehouse, ending in the
  * exported parquet matching the source table exactly. */
class IcebergRestSpec extends SparkSpec {
  import spark.implicits._

  private def httpGet(port: Int, path: String): (Int, String) = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(in.readAllBytes(), "UTF-8")
    in.close()
    (code, body)
  }

  private def httpHead(port: Int, path: String): Int = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("HEAD")
    conn.getResponseCode
  }

  /** Raw-socket request: HttpURLConnection normalizes dot-segments, so
    * traversal probes must go over the wire verbatim. */
  private def rawRequest(port: Int, method: String, rawPath: String,
                         body: String = ""): String = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val os = sock.getOutputStream
      val b = body.getBytes("UTF-8")
      os.write((s"$method $rawPath HTTP/1.1\r\nContent-Length: ${b.length}" +
        "\r\n\r\n").getBytes("UTF-8"))
      os.write(b)
      os.flush()
      new String(sock.getInputStream.readAllBytes(), "UTF-8")
    } finally sock.close()
  }

  test("every ns/table route rejects traversal identifiers: '%2F'-encoded " +
       "separators and '..' segments decode AFTER path splitting and " +
       "would otherwise reach Paths.get on the writable create/drop/" +
       "commit surface — all must 400, and nothing lands outside the " +
       "warehouse") {
    val wh = Files.createTempDirectory("graft-rest-trav-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("safe", "t1")
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-trav-exp").toString)
    try {
      val p = server.boundPort
      val probes = Seq(
        ("GET", "/v1/namespaces/..%2Fevil"),
        ("GET", "/v1/namespaces/..%2Fevil/tables"),
        ("GET", "/v1/namespaces/safe/tables/..%2F..%2Fevil"),
        ("HEAD", "/v1/namespaces/safe/tables/..%2Ft1"),
        ("DELETE", "/v1/namespaces/..%2Fevil"),
        ("DELETE", "/v1/namespaces/safe/tables/..%2F..%2Fevil"),
        ("DELETE", "/v1/namespaces/safe/tables/%2E%2E%2Ft1"),
        ("POST", "/v1/namespaces/..%2Fevil/tables"),
        ("POST", "/v1/namespaces/safe/tables/..%2F..%2Fevil"),
        ("POST", "/v1/namespaces/_internal/tables"),
        ("GET", "/v1/namespaces/.hidden/tables"))
      probes.foreach { case (m, path) =>
        val resp = rawRequest(p, m, path,
          if (m == "POST") """{"requirements":[],"updates":[]}""" else "")
        assert(resp.startsWith("HTTP/1.1 400"),
          s"$m $path must 400, got ${resp.linesIterator.next()}")
      }
      // the guarded surface still works for honest identifiers
      assert(httpHead(p, "/v1/namespaces/safe/tables/t1") === 204)
      // and nothing escaped the warehouse
      assert(!Files.exists(Paths.get(wh).getParent.resolve("evil")))
    } finally server.stop()
  }

  test("REST table-listing pagination: pageSize/pageToken walk the " +
       "sorted listing page by page (next-page-token absent on the last " +
       "page, union == the full list); malformed tokens 400") {
    val wh = Files.createTempDirectory("graft-rest-page-wh").toString
    val cat = new GraftCatalog(spark, wh)
    (0 until 7).foreach(i => cat.createTable("pns", f"t$i%02d"))
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-page-exp").toString)
    try {
      val p = server.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      var token: Option[String] = None
      var pages = 0
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      var done = false
      while (!done) {
        val q = "pageSize=3" + token.map(t => s"&pageToken=$t").getOrElse("")
        val (c, b) = httpGet(p, s"/v1/namespaces/pns/tables?$q")
        assert(c === 200, b)
        val node = mapper.readTree(b)
        node.get("identifiers").elements().asScala
          .foreach(n => seen += n.get("name").asText())
        pages += 1
        token = Option(node.get("next-page-token")).map(_.asText())
        done = token.isEmpty
      }
      assert(pages === 3, s"7 tables at pageSize=3 must take 3 pages")
      assert(seen.toSeq === (0 until 7).map(i => f"t$i%02d"),
        "paged union must equal the sorted full listing")
      // unpaged listing still serves everything
      assert(mapper.readTree(httpGet(p, "/v1/namespaces/pns/tables")._2)
        .get("identifiers").size() === 7)
      // malformed parameters refuse
      assert(httpGet(p, "/v1/namespaces/pns/tables?pageToken=abc")._1 === 400)
      assert(httpGet(p, "/v1/namespaces/pns/tables?pageSize=-1")._1 === 400)
    } finally server.stop()
  }

  test("a REST-client walk mounts a live graft table: discovery endpoints " +
       "are spec-shaped, LoadTableResult serves a real metadata tree with " +
       "the table's PARTITION SPEC, the data files read back exactly, a " +
       "new graft commit surfaces as a NEW metadata-location, and an " +
       "unchanged table re-serves the memoized one") {
    val wh = Files.createTempDirectory("graft-rest-wh").toString
    val cat = new GraftCatalog(spark, wh)
    val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
    spark.sql(s"""CREATE TABLE $c.ns.rt (id BIGINT, v DOUBLE, d DATE)
                  PARTITIONED BY (days(d))""")
    val src = (0 until 300).map { i =>
      (i.toLong, i / 10.0, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 9, 1 + i % 3)))
    }.toDF("id", "v", "d")
    src.createOrReplaceTempView("rt_src")
    spark.sql(s"INSERT INTO $c.ns.rt SELECT * FROM rt_src").collect(): Unit

    // grace 0: this test pins the MINIMAL serving window (current +
    // newest superseded); the grace retention has its own spec
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-exp").toString,
      serveGraceMs = 0L)
    try {
      val p = server.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

      assert(httpGet(p, "/v1/config")._2.contains("\"defaults\""))
      val (nsCode, nsBody) = httpGet(p, "/v1/namespaces")
      assert(nsCode === 200 && nsBody.contains("[\"ns\"]"))
      val (_, tBody) = httpGet(p, "/v1/namespaces/ns/tables")
      assert(mapper.readTree(tBody).get("identifiers").elements().asScala
        .exists(_.get("name").asText() == "rt"))
      assert(httpHead(p, "/v1/namespaces/ns/tables/rt") === 204)
      assert(httpHead(p, "/v1/namespaces/ns/tables/nope") === 404)
      // missing NAMESPACE listing is 404 per spec, never an empty page
      assert(httpGet(p, "/v1/namespaces/typo/tables")._1 === 404)
      // a created-but-never-committed table serves VALID empty metadata
      // (a client that just listed it must not get a 500)
      cat.createTable("ns", "bare")
      val (bc, bb) = httpGet(p, "/v1/namespaces/ns/tables/bare")
      assert(bc === 200, bb)
      val bareMeta = mapper.readTree(bb).get("metadata")
      assert(bareMeta.get("format-version").asInt() === 2)
      assert(bareMeta.get("snapshots").size() === 0)
      val (code404, err404) = httpGet(p, "/v1/namespaces/ns/tables/nope")
      assert(code404 === 404 &&
        mapper.readTree(err404).get("error").get("type").asText()
          == "NoSuchTableException")

      // LoadTableResult: inline metadata + location, spec declared
      val (code, body) = httpGet(p, "/v1/namespaces/ns/tables/rt")
      assert(code === 200, body)
      val load1 = mapper.readTree(body)
      val meta = load1.get("metadata")
      assert(meta.get("format-version").asInt() === 2)
      assert(meta.get("default-spec-id").asInt() === 1,
        "the partition spec must survive to the REST surface")
      val loc1 = load1.get("metadata-location").asText()
      assert(Files.exists(Paths.get(java.net.URI.create(loc1))))

      // walk like a foreign engine: current snapshot -> manifest list ->
      // manifests -> data files -> read -> exact equality
      val curId = meta.get("current-snapshot-id").asLong()
      val snap = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == curId).get
      val files = IcebergExport.readAvro(Paths.get(java.net.URI.create(
          snap.get("manifest-list").asText())))
        .flatMap(mf => IcebergExport.readAvro(Paths.get(java.net.URI.create(
          mf.get("manifest_path").toString))))
        .map(_.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord])
        .filter(_.get("record_count").asInstanceOf[Long] > 0L)
        .map(df0 => Paths.get(java.net.URI.create(
          df0.get("file_path").toString)).toString)
      assert(files.nonEmpty)
      val served = spark.read.parquet(files: _*)
      assert(served.count() === 300L)
      assert(served.agg(sum("id")).head().getLong(0) ===
        cat.read("ns", "rt").agg(sum("id")).head().getLong(0))

      // unchanged table -> memoized location; new commit -> new location
      val loc1b = mapper.readTree(httpGet(p, "/v1/namespaces/ns/tables/rt")._2)
        .get("metadata-location").asText()
      assert(loc1b === loc1, "unchanged head must re-serve the memoized export")
      spark.sql(s"INSERT INTO $c.ns.rt VALUES (9999, 1.0, DATE'2024-09-02')")
        .collect(): Unit
      val load2 = mapper.readTree(httpGet(p, "/v1/namespaces/ns/tables/rt")._2)
      assert(load2.get("metadata-location").asText() !== loc1,
        "a new graft commit must surface as a new metadata tree")
      assert(load2.get("metadata").get("snapshots").size() >
        meta.get("snapshots").size())

      // serving-window retention: repeated commits + reads keep at most
      // TWO export trees (current + immediately superseded) — without
      // reclamation every served commit would leak a full table copy
      (0 until 3).foreach { i =>
        spark.sql(s"INSERT INTO $c.ns.rt VALUES (${10000 + i}, 1.0, " +
          "DATE'2024-09-03')").collect(): Unit
        assert(httpGet(p, "/v1/namespaces/ns/tables/rt")._1 === 200)
      }
      val tableExpRoot = Paths.get(java.net.URI.create(
        load2.get("metadata-location").asText())).getParent.getParent.getParent
      val trees = Files.list(tableExpRoot).iterator().asScala.toList
        .filterNot(_.getFileName.toString == "_shared") // the store is not a tree
      assert(trees.size <= 2,
        s"export trees must be reclaimed past the serving window, " +
          s"found ${trees.size}")
      // and the CURRENT location still reads
      val cur = mapper.readTree(httpGet(p, "/v1/namespaces/ns/tables/rt")._2)
      assert(Files.exists(Paths.get(java.net.URI.create(
        cur.get("metadata-location").asText()))))
    } finally server.stop()
  }

  test("the REST shim serves MoR + partitioned tables: a table with live " +
       "equality AND position deletes under a partitioned layout loads " +
       "over HTTP and the artifacts-only reader reproduces the exact " +
       "MoR-resolved rows (delete manifests survive to the REST surface)") {
    val wh = Files.createTempDirectory("graft-rest-mor-wh").toString
    val cat = new GraftCatalog(spark, wh)
    val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
    spark.sql(s"""CREATE TABLE $c.ns.mor (id BIGINT, region STRING, v DOUBLE)
                  PARTITIONED BY (region, bucket(2, id))""")
    val src = (0 until 300).map(i =>
      (i.toLong, Seq("e", "a")(i % 2), i / 10.0)).toDF("id", "region", "v")
    src.createOrReplaceTempView("mor_src")
    spark.sql(s"INSERT INTO $c.ns.mor SELECT * FROM mor_src").collect(): Unit
    // live EQUALITY deletes (id % 7 == 0) ...
    spark.sql(s"DELETE FROM $c.ns.mor WHERE id % 7 = 0")
    // ... and live POSITION deletes (row-level MoR path)
    cat.commitDeletePositions("ns", "mor",
      cat.positionsWhere("ns", "mor", col("id") === 11L || col("id") === 13L))
    val expected = cat.read("ns", "mor")
    assert(expected.count() < 300L)

    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-mor-exp").toString)
    try {
      val p = server.boundPort
      val (code, body) = httpGet(p, "/v1/namespaces/ns/tables/mor")
      assert(code === 200, body)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val load = mapper.readTree(body)
      val meta = load.get("metadata")
      assert(meta.get("default-spec-id").asInt() >= 1,
        "the partitioned layout must survive to the REST surface")
      // the served tree carries DELETE manifests on the current snapshot
      val curId = meta.get("current-snapshot-id").asLong()
      val snap = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == curId).get
      val manifests = IcebergExport.readAvro(Paths.get(java.net.URI.create(
        snap.get("manifest-list").asText())))
      assert(manifests.exists(m =>
        IcebergExport.getOpt(m, "content").asInstanceOf[Number].intValue() == 1),
        "delete manifests must serve over REST")
      // artifacts-only read (the foreign-engine path: metadata tree ->
      // manifest avros -> parquet + delete files) == the MoR-resolved table
      val dest = Paths.get(java.net.URI.create(
        load.get("metadata-location").asText())).getParent.getParent.toString
      val got = IcebergExport.readExported(spark, dest)
      assert(got.count() === expected.count())
      assert(got.agg(sum("id")).head().getLong(0) ===
        expected.agg(sum("id")).head().getLong(0))
      assert(got.filter(col("id") % 7 === 0).count() === 0L,
        "equality deletes must apply through the served tree")
      assert(got.filter(col("id").isin(11L, 13L)).count() === 0L,
        "position deletes must apply through the served tree")
    } finally server.stop()
  }

  test("REST MoR WRITE path: a foreign client commits an UPSERT — new " +
       "data + equality-delete keys + position deletes naming the " +
       "served file URIs — as ONE snapshot; deletes order before the " +
       "landing data (re-inserted keys survive their own purge), " +
       "positions remap to graft rels, a deletes-only commit works, " +
       "and stale/unknown/alien-column requests refuse") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-restm-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("mns", "seed")
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-restm-exp").toString)
    try {
      val p = server.boundPort
      assert(RestClient.createViaRest(p, "mns", "mt",
        Seq("id" -> "long", "v" -> "double"))._1 === 200)
      val base = (0 until 400).map(i => (i.toLong, i / 10.0)).toDF("id", "v")
      assert(RestClient.appendViaRest(spark, p, "mns", "mt", base,
        snapshotId = 991001L,
        workDir = Files.createTempDirectory("restm-w1").toString)._1 === 200)

      // the foreign walk: served file URIs from the current manifests
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def servedFiles(): Seq[String] = {
        val meta = mapper.readTree(
          RestClient.get(p, "/v1/namespaces/mns/tables/mt")._2).get("metadata")
        val cur = meta.get("current-snapshot-id").asLong()
        val snap = meta.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong() == cur).get
        IcebergExport.readAvro(Paths.get(java.net.URI.create(
            snap.get("manifest-list").asText())))
          .filter(m => IcebergExport.getOpt(m, "content") == null ||
            m.get("content").asInstanceOf[Number].intValue() == 0)
          .flatMap(m => IcebergExport.readAvro(Paths.get(java.net.URI.create(
            m.get("manifest_path").toString))))
          .map(_.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord])
          .filter(_.get("content").asInstanceOf[Number].intValue() == 0)
          .map(_.get("file_path").toString)
      }
      val files = servedFiles()
      assert(files.nonEmpty)
      // position deletes: rows with id % 5 == 3, located per served file
      // with the MANIFEST's exact URI spelling (what a real engine records)
      val posDel = files.map { uri =>
        spark.read.parquet(Paths.get(java.net.URI.create(uri)).toString)
          .select(col("_metadata.row_index").as("pos"), col("id"))
          .filter(col("id") % 5 === 3)
          .select(lit(uri).as("file_path"), col("pos"))
      }.reduce(_ unionAll _)
      // equality deletes: id % 3 == 0; re-insert HALF of them (id % 6 == 0)
      // with bumped values — they must outlive their own purge
      val eqKeys = base.filter(col("id") % 3 === 0).select("id")
      val newRows = (1000 until 1050).map(i => (i.toLong, 7.7)).toDF("id", "v")
        .unionAll(base.filter(col("id") % 6 === 0)
          .select(col("id"), (col("v") + 1000).as("v")))
      val (mc, mb) = RestClient.morCommitViaRest(spark, p, "mns", "mt",
        data = Some(newRows), eqDeleteKeys = Some(eqKeys),
        posDeletes = Some(posDel), snapshotId = 991002L,
        workDir = Files.createTempDirectory("restm-w2").toString)
      assert(mc === 200, mb)

      val got = cat.read("mns", "mt")
      val expected = base
        .filter(col("id") % 3 =!= 0 && col("id") % 5 =!= 3)
        .unionAll(newRows)
      assert(got.count() === expected.count())
      assert(got.agg(round(sum(col("v")), 3)).head().getDouble(0) ===
        expected.agg(round(sum(col("v")), 3)).head().getDouble(0))
      assert(got.filter(col("id") === 9L).count() === 0L,
        "equality-deleted, not re-inserted: gone")
      assert(got.filter(col("id") === 12L).collect().map(_.getDouble(1)).toSeq
        === Seq(1001.2), "re-inserted key must survive its own purge")
      assert(got.filter(col("id") === 8L).count() === 0L,
        "position-deleted physical row: gone")

      // deletes-only commit (pure DELETE, no data manifest)
      val (dc, db) = RestClient.morCommitViaRest(spark, p, "mns", "mt",
        data = None, eqDeleteKeys = Some(spark.range(1000, 1010)
          .select(col("id"))), posDeletes = None, snapshotId = 991003L,
        workDir = Files.createTempDirectory("restm-w3").toString)
      assert(dc === 200, db)
      assert(cat.read("mns", "mt").filter(col("id") >= 1000L &&
        col("id") < 1010L).count() === 0L)

      // replayed snapshot id -> 409 (idempotence: the commit-id dedup
      // catches a replay even though the fresh walk re-asserts the head)
      val (rc, rb) = RestClient.morCommitViaRest(spark, p, "mns", "mt",
        data = None, eqDeleteKeys = Some(spark.range(5).select(col("id"))),
        posDeletes = None, snapshotId = 991003L,
        workDir = Files.createTempDirectory("restm-w4").toString)
      assert(rc === 409, rb)
      // alien-column equality delete refuses:
      val (ec, eb) = RestClient.morCommitViaRest(spark, p, "mns", "mt",
        data = None,
        eqDeleteKeys = Some(spark.range(3).select(col("id").as("nope"))),
        posDeletes = None, snapshotId = 991004L,
        workDir = Files.createTempDirectory("restm-w5").toString)
      assert(ec === 400, eb)
      assert(eb.contains("non-table column"), eb)

      // position delete naming a file the served snapshot does not
      // serve -> 400, nothing lands
      val before = cat.latest("mns", "mt").get.seq
      val bogus = spark.createDataFrame(Seq(
        ("file:///nowhere/ghost.parquet", 0L))).toDF("file_path", "pos")
      val (bc, bb) = RestClient.morCommitViaRest(spark, p, "mns", "mt",
        data = None, eqDeleteKeys = None, posDeletes = Some(bogus),
        snapshotId = 991005L,
        workDir = Files.createTempDirectory("restm-w6").toString)
      assert(bc === 400, bb)
      assert(bb.contains("does not serve"), bb)
      assert(cat.latest("mns", "mt").get.seq === before)
    } finally server.stop()
  }

  test("REST schema evolution: a foreign client ADD-COLUMNs via " +
       "add-schema + set-current-schema — pre-evolution files read the " +
       "new column as null, a foreign append WITH the column lands, " +
       "illegal changes (required add, off-lattice retype, schema " +
       "rollback, mixed commits) refuse with the right codes") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-reste-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ens", "seed")
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-reste-exp").toString)
    try {
      val p = server.boundPort
      assert(RestClient.createViaRest(p, "ens", "et",
        Seq("id" -> "long", "v" -> "double"))._1 === 200)
      assert(RestClient.appendViaRest(spark, p, "ens", "et",
        (0 until 50).map(i => (i.toLong, i / 2.0)).toDF("id", "v"),
        snapshotId = 551001L,
        workDir = Files.createTempDirectory("reste-w1").toString)._1 === 200)

      // ADD COLUMN note string (optional)
      val (ec, eb) = RestClient.evolveSchemaViaRest(p, "ens", "et",
        Seq(("id", "long", false), ("v", "double", false),
          ("note", "string", false)))
      assert(ec === 200, eb)
      assert(cat.tableSchema("ens", "et").get.fieldNames.toSeq ===
        Seq("id", "v", "note"))
      // pre-evolution rows read the new column as null
      assert(cat.read("ens", "et").filter(col("note").isNull).count() === 50L)
      // the evolved schema serves back over REST
      val served = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(RestClient.get(p, "/v1/namespaces/ens/tables/et")._2)
        .get("metadata")
      val curSchemaId = served.get("current-schema-id").asInt()
      val fields = served.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == curSchemaId).get
        .get("fields").elements().asScala.map(_.get("name").asText()).toSeq
      assert(fields === Seq("id", "v", "note"))

      // a foreign append WITH the new column lands and reads back
      assert(RestClient.appendViaRest(spark, p, "ens", "et",
        Seq((1000L, 1.5, "hello")).toDF("id", "v", "note"),
        snapshotId = 551002L,
        workDir = Files.createTempDirectory("reste-w2").toString)._1 === 200)
      assert(cat.read("ens", "et").filter(col("note") === "hello")
        .count() === 1L)

      // refusals: a REQUIRED new column (existing rows cannot supply it)
      val (rc, rb) = RestClient.evolveSchemaViaRest(p, "ens", "et",
        Seq(("id", "long", false), ("v", "double", false),
          ("note", "string", false), ("must", "long", true)))
      assert(rc === 400, rb)
      assert(rb.contains("nullable"), rb)
      // off-lattice retype (double -> float narrows)
      assert(RestClient.evolveSchemaViaRest(p, "ens", "et",
        Seq(("id", "long", false), ("v", "float", false),
          ("note", "string", false)))._1 === 400)
      // schema rollback (set-current-schema without add-schema)
      assert(RestClient.post(p, "/v1/namespaces/ens/tables/et",
        """{"requirements":[],"updates":[
          {"action":"set-current-schema","schema-id":0}]}""")._1 === 400)
      // mixed schema + property commit refuses
      assert(RestClient.post(p, "/v1/namespaces/ens/tables/et",
        """{"requirements":[],"updates":[
          {"action":"add-schema","schema":{"schema-id":2,"type":"struct",
           "fields":[{"id":1,"name":"id","required":false,"type":"long"}]}},
          {"action":"set-properties","updates":{"x":"y"}}]}""")._1 === 400)
      // the spec's schema-change guard requirement: a stale
      // assert-current-schema-id is the 409 CommitFailedException
      assert(RestClient.post(p, "/v1/namespaces/ens/tables/et",
        """{"requirements":[
          {"type":"assert-current-schema-id","current-schema-id":99}],
          "updates":[{"action":"set-properties","updates":{"z":"1"}}]}""")
        ._1 === 409)
      // a LEGAL widening retype (long -> ... int column would widen; here
      // verify v double stays double and id can widen from long to long)
      // and a DROP: removing note succeeds (no eq-deletes live)
      assert(RestClient.evolveSchemaViaRest(p, "ens", "et",
        Seq(("id", "long", false), ("v", "double", false)))._1 === 200)
      assert(cat.tableSchema("ens", "et").get.fieldNames.toSeq ===
        Seq("id", "v"))
    } finally server.stop()
  }

  test("REST partition-spec evolution: a foreign client evolves the " +
       "default spec via add-spec + set-default-spec, writes after the " +
       "evolution cluster (and prune) under the new spec, the evolved " +
       "spec serves back, a stale assert-default-spec-id gets the 409, " +
       "and staging / rollback / unknown-source / mixed commits refuse") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-restsp-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("sns", "seed")
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-restsp-exp").toString)
    try {
      val p = server.boundPort
      assert(RestClient.createViaRest(p, "sns", "st",
        Seq("id" -> "long", "k" -> "long", "v" -> "double"))._1 === 200)
      val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
      (0 until 200).map(i => (i.toLong, (i % 4).toLong, i / 2.0))
        .toDF("id", "k", "v").createOrReplaceTempView("sp_src")
      spark.sql(s"INSERT INTO $c.sns.st SELECT * FROM sp_src " +
        "WHERE id < 100").collect(): Unit

      // unpartitioned table serves default-spec-id 0; evolve to
      // identity(k) + bucket(4, id), asserting that id
      val (ec, eb) = RestClient.evolveSpecViaRest(p, "sns", "st",
        Seq("k" -> "identity", "id" -> "bucket[4]"),
        assertDefaultSpecId = Some(0))
      assert(ec === 200, eb)
      val specJson = cat.tableProperties("sns", "st")("graft.partition-spec")
      assert(specJson.contains("identity") && specJson.contains("bucket"),
        specJson)

      // writes after the evolution cluster under the new spec: a point
      // probe on k prunes to the k-aligned files of the second batch
      spark.sql(s"INSERT INTO $c.sns.st SELECT * FROM sp_src " +
        "WHERE id >= 100").collect(): Unit
      val total = cat.read("sns", "st").inputFiles.length
      assert(cat.readWhereEquals("sns", "st", "k", "2")
        .inputFiles.length < total)
      // content unchanged by all the layout machinery
      assert(cat.read("sns", "st").count() === 200L)

      // the evolved spec serves back over REST
      val served = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(RestClient.get(p, "/v1/namespaces/sns/tables/st")._2)
        .get("metadata")
      assert(served.get("default-spec-id").asInt() === 1)
      val tr = served.get("partition-specs").elements().asScala
        .find(_.get("spec-id").asInt() == 1).get
        .get("fields").elements().asScala
        .map(_.get("transform").asText()).toSeq
      assert(tr === Seq("identity", "bucket[4]"), tr)

      // a STALE assert-default-spec-id is the spec's 409
      assert(RestClient.evolveSpecViaRest(p, "sns", "st",
        Seq("k" -> "identity"), assertDefaultSpecId = Some(0))._1 === 409)

      // partitioned -> partitioned evolution BUMPS the served spec id
      // (distinct specs number 1..k in first-appearance order), so a
      // client pinned to the previous spec detects a concurrent change
      // instead of silently last-writer-winning over it
      assert(RestClient.evolveSpecViaRest(p, "sns", "st",
        Seq("k" -> "identity"), assertDefaultSpecId = Some(1))._1 === 200)
      val served2 = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(RestClient.get(p, "/v1/namespaces/sns/tables/st")._2)
        .get("metadata")
      assert(served2.get("default-spec-id").asInt() === 2, served2.toString)
      assert(RestClient.evolveSpecViaRest(p, "sns", "st",
        Seq("id" -> "bucket[8]"), assertDefaultSpecId = Some(1))._1 === 409,
        "an assert pinned to the superseded spec must conflict")

      // refusals: staging (add-spec alone), rollback (set-default-spec
      // alone), unknown source-id, mixed spec+property commit, and an
      // unsupported transform
      val route = "/v1/namespaces/sns/tables/st"
      val addOnly = """{"requirements":[],"updates":[
        {"action":"add-spec","spec":{"spec-id":5,"fields":[
          {"name":"k_0","transform":"identity","source-id":2,"field-id":1000}]}}]}"""
      assert(RestClient.post(p, route, addOnly)._1 === 400)
      assert(RestClient.post(p, route,
        """{"requirements":[],"updates":[
          {"action":"set-default-spec","spec-id":0}]}""")._1 === 400)
      assert(RestClient.post(p, route,
        """{"requirements":[],"updates":[
          {"action":"add-spec","spec":{"spec-id":5,"fields":[
            {"name":"x","transform":"identity","source-id":99,"field-id":1000}]}},
          {"action":"set-default-spec","spec-id":-1}]}""")._1 === 400)
      assert(RestClient.post(p, route,
        """{"requirements":[],"updates":[
          {"action":"add-spec","spec":{"spec-id":5,"fields":[
            {"name":"k_0","transform":"identity","source-id":2,"field-id":1000}]}},
          {"action":"set-default-spec","spec-id":-1},
          {"action":"set-properties","updates":{"x":"y"}}]}""")._1 === 400)
      assert(RestClient.post(p, route,
        """{"requirements":[],"updates":[
          {"action":"add-spec","spec":{"spec-id":5,"fields":[
            {"name":"k_0","transform":"zorder","source-id":2,"field-id":1000}]}},
          {"action":"set-default-spec","spec-id":-1}]}""")._1 === 400)

      // an EMPTY field list removes the partitioning
      assert(RestClient.post(p, route,
        """{"requirements":[],"updates":[
          {"action":"add-spec","spec":{"spec-id":6,"fields":[]}},
          {"action":"set-default-spec","spec-id":-1}]}""")._1 === 200)
      assert(!cat.tableProperties("sns", "st").contains(
        "graft.partition-spec"))
    } finally server.stop()
  }

  test("REST view endpoints (round-14): a foreign engine lists and " +
       "resolves graft views over the spec's view API — SQL " +
       "representation, defining catalog/namespace, per-version schemas " +
       "and version-log; a REPLACE serves a new metadata-location with " +
       "the history intact; an MV's definition rides its served TABLE " +
       "metadata properties") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-restv-wh").toString
    val cat = new GraftCatalog(spark, wh)
    val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
    spark.sql(s"CREATE TABLE $c.vns.vt (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $c.vns.vt VALUES (1, 1.5), (2, 200001.0)")
      .collect(): Unit
    spark.sql(s"""CREATE VIEW $c.vns.pricey (key, price_k) AS
      SELECT id, round(v / 1000, 3) FROM $c.vns.vt WHERE v > 100000""")
    spark.sql(s"CREATE VIEW $c.vns.allrows AS SELECT * FROM $c.vns.vt")
    spark.sql(s"""CREATE MATERIALIZED VIEW $c.vns.mvx AS
      SELECT id % 2 AS grp, count(*) AS cnt FROM $c.vns.vt GROUP BY id % 2""")
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-restv-exp").toString)
    try {
      val p = server.boundPort
      val om = new com.fasterxml.jackson.databind.ObjectMapper()

      // listing (sorted) + pagination + HEAD
      val (lc, lb) = RestClient.get(p, "/v1/namespaces/vns/views")
      assert(lc === 200, lb)
      val names = om.readTree(lb).get("identifiers").elements().asScala
        .map(_.get("name").asText()).toSeq
      assert(names === Seq("allrows", "pricey"))
      val (pc, pb) = RestClient.get(p, "/v1/namespaces/vns/views?pageSize=1")
      assert(om.readTree(pb).get("identifiers").size() === 1, pb)
      assert(om.readTree(pb).get("next-page-token").asText() === "1", pb)
      assert(pc === 200)
      assert(httpHead(p, "/v1/namespaces/vns/views/pricey") === 204)
      assert(httpHead(p, "/v1/namespaces/vns/views/nope") === 404)
      assert(RestClient.get(p, "/v1/namespaces/nons/views")._1 === 404)

      // LoadViewResult: the definition resolves
      val (vc, vb) = RestClient.get(p, "/v1/namespaces/vns/views/pricey")
      assert(vc === 200, vb)
      val meta = om.readTree(vb).get("metadata")
      assert(meta.get("format-version").asInt() === 1)
      val curId = meta.get("current-version-id").asInt()
      val ver = meta.get("versions").elements().asScala
        .find(_.get("version-id").asInt() == curId).get
      val rep = ver.get("representations").elements().asScala.next()
      assert(rep.get("type").asText() === "sql")
      assert(rep.get("dialect").asText() === "spark")
      assert(rep.get("sql").asText().contains("round(v / 1000, 3)"))
      assert(ver.get("default-namespace").elements().asScala
        .map(_.asText()).toSeq.nonEmpty)
      val schema = meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == ver.get("schema-id").asInt()).get
      assert(schema.get("fields").elements().asScala
        .map(_.get("name").asText()).toSeq === Seq("key", "price_k"))
      val loc0 = om.readTree(vb).get("metadata-location").asText()
      // unchanged view re-serves the SAME location
      assert(om.readTree(RestClient.get(p,
        "/v1/namespaces/vns/views/pricey")._2)
        .get("metadata-location").asText() === loc0)

      // REPLACE: new version, new location, history intact
      spark.sql(s"""CREATE OR REPLACE VIEW $c.vns.pricey (key, price_k) AS
        SELECT id, round(v / 1000, 2) FROM $c.vns.vt WHERE v > 50000""")
      val (rc2, rb2) = RestClient.get(p, "/v1/namespaces/vns/views/pricey")
      val meta2 = om.readTree(rb2).get("metadata")
      assert(rc2 === 200)
      assert(meta2.get("current-version-id").asInt() === curId + 1)
      assert(meta2.get("versions").size() === 2)
      assert(meta2.get("version-log").size() === 2)
      assert(om.readTree(rb2).get("metadata-location").asText() !== loc0)

      // DROP + RECREATE under the same name: version ids restart at 0,
      // so the memo and metadata file must key on the publish stamp —
      // an id-only key would serve the OLD definition with a 200
      spark.sql(s"DROP VIEW $c.vns.allrows")
      assert(httpHead(p, "/v1/namespaces/vns/views/allrows") === 404)
      spark.sql(s"CREATE VIEW $c.vns.allrows AS " +
        s"SELECT id FROM $c.vns.vt WHERE id > 1")
      val (nc, nb) = RestClient.get(p, "/v1/namespaces/vns/views/allrows")
      assert(nc === 200)
      val nrep = om.readTree(nb).get("metadata").get("versions")
        .elements().asScala.next().get("representations")
        .elements().asScala.next().get("sql").asText()
      assert(nrep.contains("id > 1"),
        s"recreated view must serve the NEW definition, got: $nrep")

      // an MV is a TABLE over REST; its definition rides the served
      // metadata properties (no separate view endpoint needed)
      val (mc, mb) = RestClient.get(p, "/v1/namespaces/vns/tables/mvx")
      assert(mc === 200, mb)
      val mvProps = om.readTree(mb).get("metadata").get("properties")
      assert(mvProps.get("graft.mv.query").asText()
        .contains("GROUP BY id % 2"), mvProps.toString)
      // and the MV does NOT appear on the views listing (it is a table)
      assert(!om.readTree(RestClient.get(p, "/v1/namespaces/vns/views")._2)
        .get("identifiers").elements().asScala
        .exists(_.get("name").asText() == "mvx"))
    } finally server.stop()
  }

  test("REST COMMIT protocol: a foreign client CREATEs a partitioned " +
       "table, appends its own parquet via add-snapshot (real Avro " +
       "manifests, real HTTP), the files land as a graft version with " +
       "native stats/blooms, a second append chains, a STALE " +
       "assert-ref-snapshot-id gets the spec's 409, and property " +
       "commits round-trip") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-restc-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("seedns", "seed") // materializes the namespace dir
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-restc-exp").toString)
    try {
      val p = server.boundPort

      // CREATE with schema + bucket spec + a user property
      val (cc, cb) = RestClient.createViaRest(p, "seedns", "ct",
        Seq("id" -> "long", "v" -> "double"),
        spec = Seq("id" -> "bucket[4]"),
        properties = Map("owner.team" -> "interop"))
      assert(cc === 200, cb)
      val created = RestClient.json(cb).get("metadata")
      assert(created.get("default-spec-id").asInt() === 1,
        "the created table's partition spec must serve back")
      assert(cat.tableExists("seedns", "ct"))
      assert(cat.tableSchema("seedns", "ct").get.fieldNames.toSeq ===
        Seq("id", "v"))
      assert(cat.tableProperties("seedns", "ct")("owner.team") === "interop")
      // schema + spec + props publish as ONE snapshot: a crash after a
      // schema-only v0 would leave an unrepairable unpartitioned table
      assert(cat.snapshots("seedns", "ct").size === 1,
        "REST create must be a single commit")
      // protocol hardening: malformed Content-Length is a 400, not a
      // silent connection drop
      val sock = new java.net.Socket("127.0.0.1", p)
      try {
        val os = sock.getOutputStream
        os.write(("POST /v1/namespaces/seedns/tables HTTP/1.1\r\n" +
          "Content-Length: abc\r\n\r\n").getBytes("UTF-8"))
        os.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(resp.startsWith("HTTP/1.1 400"), resp.take(80))
      } finally sock.close()
      // duplicate create → 409 AlreadyExists
      assert(RestClient.createViaRest(p, "seedns", "ct",
        Seq("id" -> "long"))._1 === 409)
      // missing namespace → 404
      assert(RestClient.createViaRest(p, "nope", "x",
        Seq("id" -> "long"))._1 === 404)

      // foreign append #1
      val batch1 = (0 until 500).map(i => (i.toLong, i / 10.0)).toDF("id", "v")
      val (a1, b1) = RestClient.appendViaRest(spark, p, "seedns", "ct",
        batch1, snapshotId = 777001L,
        workDir = Files.createTempDirectory("restc-w1").toString)
      assert(a1 === 200, b1)
      assert(cat.read("seedns", "ct").count() === 500L)
      assert(cat.read("seedns", "ct").agg(sum("id")).head().getLong(0)
        === (0 until 500).map(_.toLong).sum)
      // the landed files carry native stats + the bucket bloom: a point
      // lookup prunes (bucket(4, id) auto-indexes id)
      val total = cat.read("seedns", "ct").inputFiles.length
      val hit = cat.readWhereEquals("seedns", "ct", "id", "137")
      assert(hit.count() === 1L)
      if (total > 1)
        assert(hit.inputFiles.length < total,
          "REST-landed files must prune like native commits")
      // the commit response already carries the NEW snapshot
      assert(RestClient.json(b1).get("metadata")
        .get("current-snapshot-id").asLong(-1L) >= 0)

      // append #2 chains on the refreshed state
      val batch2 = (500 until 600).map(i => (i.toLong, i / 10.0)).toDF("id", "v")
      val (a2, _) = RestClient.appendViaRest(spark, p, "seedns", "ct",
        batch2, snapshotId = 777002L,
        workDir = Files.createTempDirectory("restc-w2").toString)
      assert(a2 === 200)
      assert(cat.read("seedns", "ct").count() === 600L)

      // STALE assertion: replay append #2's view of the world (its
      // asserted snapshot is no longer current) → 409, and the table
      // is untouched
      val vBefore = cat.latest("seedns", "ct").get.seq
      val work3 = Files.createTempDirectory("restc-w3").toString
      // hand-build the stale request: assert the snapshot BEFORE the
      // last append (read from append #1's response)
      val staleId = RestClient.json(b1).get("metadata")
        .get("current-snapshot-id").asLong()
      val (g3, gb3) = RestClient.get(p, "/v1/namespaces/seedns/tables/ct")
      assert(g3 === 200, gb3)
      val conflictBody =
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$staleId}],"updates":[]}"""
          .stripMargin.replace("\n", "")
      val (c409, b409) = RestClient.post(p,
        "/v1/namespaces/seedns/tables/ct", conflictBody)
      assert(c409 === 409, b409)
      assert(RestClient.json(b409).get("error").get("type").asText()
        === "CommitFailedException")
      assert(cat.latest("seedns", "ct").get.seq === vBefore)
      assert(Files.isDirectory(Paths.get(work3)) || true) // workdir unused

      // property commit round-trips (and an invalid one refuses with 400)
      val (pc, pb) = RestClient.post(p, "/v1/namespaces/seedns/tables/ct",
        """{"requirements":[],"updates":[
          {"action":"set-properties","updates":{"write.note":"via-rest"}}]}""")
      assert(pc === 200, pb)
      assert(cat.tableProperties("seedns", "ct")("write.note") === "via-rest")
      val (bc2, _) = RestClient.post(p, "/v1/namespaces/seedns/tables/ct",
        """{"requirements":[],"updates":[
          {"action":"set-location","location":"/elsewhere"}]}""")
      assert(bc2 === 400, "unsupported update kinds must refuse loudly")

      // a data file omitting a table column refuses with 400 (it would
      // silently read as null) and nothing lands
      val narrow = (0 until 10).map(i => Tuple1(i.toLong)).toDF("id")
      val (nc, nb) = RestClient.appendViaRest(spark, p, "seedns", "ct",
        narrow, snapshotId = 777003L,
        workDir = Files.createTempDirectory("restc-w4").toString)
      assert(nc === 400, nb)
      assert(nb.contains("omits table column"), nb)
      assert(cat.read("seedns", "ct").count() === 600L)

      // SQL reads the REST-committed table through the graft catalog
      val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
      assert(spark.sql(s"SELECT count(*) FROM $c.seedns.ct WHERE id < 100")
        .head().getLong(0) === 100L)

      // namespace + table CRUD completes the management surface:
      // create namespace (single-level), duplicate -> 409, create a
      // table in it, DELETE table -> 204 + gone, non-empty namespace
      // delete -> 409, empty -> 204
      val (nc1, _) = RestClient.post(p, "/v1/namespaces",
        """{"namespace":["fresh"],"properties":{}}""")
      assert(nc1 === 200)
      assert(RestClient.get(p, "/v1/namespaces")._2.contains("[\"fresh\"]"))
      assert(RestClient.post(p, "/v1/namespaces",
        """{"namespace":["fresh"]}""")._1 === 409)
      assert(RestClient.post(p, "/v1/namespaces",
        """{"namespace":["a","b"]}""")._1 === 400, "multi-level refuses")
      // path traversal refuses (createDirectories would otherwise land
      // OUTSIDE the warehouse)
      assert(RestClient.post(p, "/v1/namespaces",
        """{"namespace":["x/../../evil"]}""")._1 === 400)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(wh).getParent.resolve("evil")))
      assert(RestClient.createViaRest(p, "fresh", "tt",
        Seq("x" -> "long"))._1 === 200)
      val delNs = java.net.URI.create(
        s"http://127.0.0.1:$p/v1/namespaces/fresh").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      delNs.setRequestMethod("DELETE")
      assert(delNs.getResponseCode === 409, "non-empty namespace must refuse")
      val delT = java.net.URI.create(
        s"http://127.0.0.1:$p/v1/namespaces/fresh/tables/tt").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      delT.setRequestMethod("DELETE")
      assert(delT.getResponseCode === 204)
      assert(!cat.tableExists("fresh", "tt"))
      val delNs2 = java.net.URI.create(
        s"http://127.0.0.1:$p/v1/namespaces/fresh").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      delNs2.setRequestMethod("DELETE")
      assert(delNs2.getResponseCode === 204)
      assert(!RestClient.get(p, "/v1/namespaces")._2.contains("[\"fresh\"]"))
    } finally server.stop()
  }

  test("a REST commit lands its files flat under data/, and a refused one removes " +
       "only its own files") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-restf-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("fns", "seed")
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-restf-exp").toString)
    try {
      val p = server.boundPort
      assert(RestClient.createViaRest(p, "fns", "ft",
        Seq("id" -> "long", "v" -> "double"))._1 === 200)
      val root = cat.tablePath("fns", "ft")
      def onDisk(): Set[String] = {
        val s = Files.walk(root.resolve("data"))
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => root.relativize(f).toString).filterNot(_.endsWith(".crc")).toSet
        finally s.close()
      }
      val batch = (0 until 50).map(i => (i.toLong, i / 10.0)).toDF("id", "v")
      val (a, b) = RestClient.appendViaRest(spark, p, "fns", "ft", batch.repartition(2),
        snapshotId = 555001L, workDir = Files.createTempDirectory("restf-w1").toString)
      assert(a === 200, b)
      val landed = onDisk()
      assert(landed.nonEmpty && landed.forall("data/[^/]+\\.parquet".r.matches), landed)
      assert(cat.dataFiles("fns", "ft", cat.latest("fns", "ft").get).toSet === landed)
      // a replayed snapshot id is refused after its files landed: they
      // go, the committed files stay
      val (rc, rb) = RestClient.appendViaRest(spark, p, "fns", "ft", batch,
        snapshotId = 555001L, workDir = Files.createTempDirectory("restf-w2").toString)
      assert(rc === 409, rb)
      assert(onDisk() === landed)
      assert(cat.read("fns", "ft").count() === 50L)
    } finally server.stop()
  }

  test("REST multi-table TRANSACTION: a foreign client appends to TWO " +
       "tables through one POST /v1/transactions/commit — 204, both " +
       "heads advance with transactional commit ids; a stale " +
       "requirement is the spec's 409 with NOTHING applied anywhere; a " +
       "refused mid-staging transaction reclaims its internal branches " +
       "and landed files") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-rest-txn-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "ta")
    cat.createTable("ns", "tb")
    cat.commitAppend("ns", "ta", (0 until 50).map(i => (i.toLong, i * 1.0))
      .toDF("id", "v"))
    cat.commitAppend("ns", "tb", (0 until 30).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s"))
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-txn-exp").toString)
    try {
      val p = server.boundPort
      val work = Files.createTempDirectory("graft-rest-txn-work").toString
      // happy path: one transaction, two tables, all-or-nothing = all
      val (tc, tb2) = RestClient.txnCommitViaRest(spark, p, Seq(
        ("ns", "ta", (100 until 120).map(i => (i.toLong, i * 1.0))
          .toDF("id", "v"), 9001L),
        ("ns", "tb", (100 until 110).map(i => (i.toLong, s"s$i"))
          .toDF("k", "s"), 9002L)), work)
      assert(tc === 204, tb2)
      assert(cat.read("ns", "ta").count() === 70L)
      assert(cat.read("ns", "tb").count() === 40L)
      assert(cat.latest("ns", "ta").get.commitId.startsWith("txn-rest-"))
      assert(cat.latest("ns", "tb").get.commitId.startsWith("txn-rest-"))
      // and the post-transaction LOAD serves both new states
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val served = om.readTree(httpGet(p, "/v1/namespaces/ns/tables/ta")._2)
      assert(served.get("metadata").get("snapshots").size() === 2)

      // stale requirement: 409, nothing applied anywhere
      val (cc, cb) = RestClient.post(p, "/v1/transactions/commit",
        """{"table-changes":[{"identifier":{"namespace":["ns"],"name":"ta"},
          |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
          |"snapshot-id":999999}],"updates":[]}]}""".stripMargin)
      assert(cc === 409, cb)
      assert(cat.read("ns", "ta").count() === 70L)

      // refusal mid-staging (duplicate table in one transaction):
      // the first part already staged an internal branch + landed files
      // — both must be reclaimed, and neither table may advance
      val h1 = cat.latest("ns", "ta").get.seq
      val (dc, db) = RestClient.txnCommitViaRest(spark, p, Seq(
        ("ns", "ta", Seq((900L, 9.0)).toDF("id", "v"), 9003L),
        ("ns", "ta", Seq((901L, 9.0)).toDF("id", "v"), 9004L)), work + "2")
      assert(dc === 400, db)
      assert(cat.latest("ns", "ta").get.seq === h1)
      assert(cat.read("ns", "ta").count() === 70L)
      assert(cat.listBranches("ns", "ta").isEmpty,
        "internal txn branches must be reclaimed on refusal")
      // no stray landed files: every landed file left in data/ is live
      val dataDir = Paths.get(wh, "ns", "ta", "data")
      val liveRels = cat.dataFiles("ns", "ta",
        cat.latest("ns", "ta").get).toSet
      val strays = Files.list(dataDir).iterator().asScala
        .map(f => s"data/${f.getFileName}")
        .filter(r => r.startsWith("data/rest-") && !liveRels(r))
        .toList
      assert(strays.isEmpty, s"landed files of reclaimed parts remain: $strays")
    } finally server.stop()
  }

  test("REST transaction with MoR + property parts (round-15): one " +
       "POST /v1/transactions/commit where table A's part is an upsert " +
       "(data + equality keys + ~2k position deletes against the served " +
       "tree) and table B's part sets properties — atomically visible " +
       "(204); a conflicting local commit mid-flight is the spec's 409 " +
       "with NOTHING applied on either table and every internal branch " +
       "and landed delete file reclaimed") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-rest-txm-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "ta")
    cat.createTable("ns", "tb")
    val base = (0 until 4000).map(i => (i.toLong, i / 10.0)).toDF("id", "v")
    cat.commitAppend("ns", "ta", base)
    cat.commitAppend("ns", "tb", (0 until 30).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s"))
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-txm-exp").toString)
    try {
      val p = server.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // the foreign walk over ta's served tree: data-file URIs
      def servedFiles(): Seq[String] = {
        val meta = mapper.readTree(
          httpGet(p, "/v1/namespaces/ns/tables/ta")._2).get("metadata")
        val cur = meta.get("current-snapshot-id").asLong()
        val snap = meta.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong() == cur).get
        IcebergExport.readAvro(Paths.get(java.net.URI.create(
            snap.get("manifest-list").asText())))
          .filter(m => IcebergExport.getOpt(m, "content") == null ||
            m.get("content").asInstanceOf[Number].intValue() == 0)
          .flatMap(m => IcebergExport.readAvro(Paths.get(java.net.URI.create(
            m.get("manifest_path").toString))))
          .map(_.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord])
          .filter(_.get("content").asInstanceOf[Number].intValue() == 0)
          .map(_.get("file_path").toString)
      }
      // ~2k position deletes: every odd id, located per served file
      def posDelOf(files: Seq[String]) = files.map { uri =>
        spark.read.parquet(Paths.get(java.net.URI.create(uri)).toString)
          .select(col("_metadata.row_index").as("pos"), col("id"))
          .filter(col("id") % 2 === 1)
          .select(lit(uri).as("file_path"), col("pos"))
      }.reduce(_ unionAll _)
      val eqKeys = base.filter(col("id") % 500 === 0).select("id")
      val newRows = (9000 until 9020).map(i => (i.toLong, 9.9)).toDF("id", "v")

      // happy path: MoR part on ta + property part on tb, one txn
      val work1 = Files.createTempDirectory("graft-rest-txm-w1").toString
      val chA = RestClient.buildMorChange(spark, p, "ns", "ta",
        data = Some(newRows), eqDeleteKeys = Some(eqKeys),
        posDeletes = Some(posDelOf(servedFiles())), snapshotId = 881001L,
        workDir = work1)
      val chB = RestClient.buildPropsChange(p, "ns", "tb",
        set = Map("owner" -> "etl-team", "retention.days" -> "30"))
      val (tc, tb2) = RestClient.txnCommitChangesViaRest(p, Seq(chA, chB))
      assert(tc === 204, tb2)
      // ta: MoR semantics — odd ids position-deleted, id%500 equality-
      // deleted, new rows present
      val got = cat.read("ns", "ta")
      val expected = base
        .filter(col("id") % 2 =!= 1 && col("id") % 500 =!= 0)
        .unionAll(newRows)
      assert(got.count() === expected.count())
      assert(got.agg(round(sum(col("v")), 3)).head().getDouble(0) ===
        expected.agg(round(sum(col("v")), 3)).head().getDouble(0))
      assert(got.filter(col("id") === 7L).count() === 0L, "position-deleted")
      assert(got.filter(col("id") === 1000L).count() === 0L, "equality-deleted")
      // tb: properties landed, data untouched, SAME txn commit family
      assert(cat.tableProperties("ns", "tb")("owner") === "etl-team")
      assert(cat.read("ns", "tb").count() === 30L)
      val cidA = cat.latest("ns", "ta").get.commitId
      val cidB = cat.latest("ns", "tb").get.commitId
      assert(cidA.startsWith("txn-rest-") && cidB.startsWith("txn-rest-"))
      assert(cidA.stripSuffix("-0") === cidB.stripSuffix("-1"),
        "both parts publish under ONE transaction id")

      // conflict: stage a fresh MoR+props txn, but tb moves first ->
      // 409 and NOTHING lands anywhere
      val seqA = cat.latest("ns", "ta").get.seq
      val work2 = Files.createTempDirectory("graft-rest-txm-w2").toString
      val chA2 = RestClient.buildMorChange(spark, p, "ns", "ta",
        data = None, eqDeleteKeys = Some(spark.range(2).select(col("id"))),
        posDeletes = None, snapshotId = 881002L, workDir = work2)
      val chB2 = RestClient.buildPropsChange(p, "ns", "tb",
        set = Map("owner" -> "someone-else"))
      cat.commitProperties("ns", "tb", Map("racer" -> "local")) // move tb
      val seqB = cat.latest("ns", "tb").get.seq
      val (cc, cb) = RestClient.txnCommitChangesViaRest(p, Seq(chA2, chB2))
      assert(cc === 409, cb)
      assert(cat.latest("ns", "ta").get.seq === seqA, "ta must not advance")
      assert(cat.latest("ns", "tb").get.seq === seqB, "tb must not advance")
      assert(cat.tableProperties("ns", "tb")("owner") === "etl-team",
        "refused property part must not apply")
      assert(cat.listBranches("ns", "ta").isEmpty &&
        cat.listBranches("ns", "tb").isEmpty,
        "internal txn branches must be reclaimed")
      // the refused part's staged delete files are reclaimed: every
      // delete file the table serves belongs to the COMMITTED head
      val liveDel = cat.deleteFileEntries("ns", "ta",
        cat.latest("ns", "ta").get).map(_._1).toSet
      val dataDir = Paths.get(wh, "ns", "ta", "data")
      val strayDel = Files.walk(dataDir).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => dataDir.getParent.relativize(f).toString)
        .filter(r => r.contains("eqdel") || r.contains("eq"))
        .filterNot(r => liveDel.contains(r) ||
          cat.dataFiles("ns", "ta", cat.latest("ns", "ta").get).contains(r))
        .toList
      assert(strayDel.isEmpty, s"reclaim left stray delete files: $strayDel")

      // a part mixing add-snapshot with set-properties refuses loudly
      val work3 = Files.createTempDirectory("graft-rest-txm-w3").toString
      val chMix0 = RestClient.buildMorChange(spark, p, "ns", "ta",
        data = Some(Seq((7777L, 1.0)).toDF("id", "v")), eqDeleteKeys = None,
        posDeletes = None, snapshotId = 881003L, workDir = work3)
      val mixNode = mapper.readTree(chMix0)
      val chMix = chMix0.stripSuffix("]}").stripSuffix("]}").take(0) + {
        val ups = mixNode.get("updates")
        val extra = """{"action":"set-properties","updates":{"x":"y"}}"""
        s"""{"identifier":${mixNode.get("identifier")},
           |"requirements":${mixNode.get("requirements")},
           |"updates":[${ups.elements().asScala.map(_.toString)
             .mkString(",")},$extra]}""".stripMargin
      }
      val (mc, mb) = RestClient.txnCommitChangesViaRest(p, Seq(chMix))
      assert(mc === 400, mb)
      assert(mb.contains("mixes add-snapshot with property"), mb)
    } finally server.stop()
  }

  test("serving-window grace (round-15): a foreign reader holding a " +
       "just-served metadata tree never loses files to concurrent " +
       "re-exports + store sweeps — every tree served within " +
       "serveGraceMs stays fully resolvable through churn; with " +
       "grace 0 only the newest superseded tree survives (the " +
       "documented serving-window contract)") {
    val wh = Files.createTempDirectory("graft-rest-grace-wh").toString
    val cat = new GraftCatalog(spark, wh)
    val rows = (0 until 400).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    cat.createTable("g", "t")
    cat.commitAppend("g", "t", rows.filter($"id" < 100))
    val exportRoot = Files.createTempDirectory("graft-rest-grace-exp").toString
    val server = new IcebergRestServer(cat, exportRoot,
      serveGraceMs = 600000L)
    try {
      val p = server.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def load(): String = {
        val (c, b) = httpGet(p, "/v1/namespaces/g/tables/t")
        assert(c === 200, b)
        mapper.readTree(b).get("metadata-location").asText()
      }
      def treeOf(loc: String) =
        Paths.get(java.net.URI.create(loc)).getParent.getParent
      val loc1 = load()
      val count1 = IcebergExport.readExported(spark, treeOf(loc1).toString)
        .count()
      // churn: three commits, each re-served (re-export + store sweep)
      (1 to 3).foreach { k =>
        cat.commitAppend("g", "t",
          rows.filter($"id" >= k * 100 && $"id" < (k + 1) * 100))
        load(): Unit
      }
      // the reader's pinned tree still resolves COMPLETELY — metadata,
      // manifest lists, manifests, data files — despite three sweeps
      val back1 = IcebergExport.readExported(spark, treeOf(loc1).toString)
      assert(back1.count() === count1,
        "a grace-retained tree must stay fully resolvable under churn")
      assert(IcebergExport.readExported(spark,
        treeOf(load()).toString).count() === 400L)
    } finally server.stop()

    // grace 0: the window is current + newest superseded ONLY — an
    // older pin is reclaimed (the contract a long-lived reader must
    // copy against)
    val wh0 = Files.createTempDirectory("graft-rest-grace0-wh").toString
    val cat0 = new GraftCatalog(spark, wh0)
    cat0.createTable("g", "t")
    cat0.commitAppend("g", "t", rows.filter($"id" < 100))
    val server0 = new IcebergRestServer(cat0,
      Files.createTempDirectory("graft-rest-grace0-exp").toString,
      serveGraceMs = 0L)
    try {
      val p = server0.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def load(): String = {
        val (c, b) = httpGet(p, "/v1/namespaces/g/tables/t")
        assert(c === 200, b)
        mapper.readTree(b).get("metadata-location").asText()
      }
      def treeOf(loc: String) =
        Paths.get(java.net.URI.create(loc)).getParent.getParent
      val loc1 = load()
      cat0.commitAppend("g", "t", rows.filter($"id" >= 100 && $"id" < 200))
      val loc2 = load()
      // loc1 is the newest superseded tree: still resolvable
      assert(IcebergExport.readExported(spark,
        treeOf(loc1).toString).count() === 100L)
      cat0.commitAppend("g", "t", rows.filter($"id" >= 200 && $"id" < 300))
      load(): Unit
      // two generations old at grace 0: reclaimed
      assert(!Files.isDirectory(treeOf(loc1)),
        "outside the serving window the tree is reclaimed (grace 0)")
      // the newest superseded one still serves
      assert(IcebergExport.readExported(spark,
        treeOf(loc2).toString).count() === 200L)
    } finally server0.stop()
  }

  test("REST consistent cut (round-15): POST /v1/transactions/" +
       "consistent-cut pins two tables on versions that never split a " +
       "multi-table transaction — verified under a committing storm — " +
       "and each pinned metadata-location reads back as a spec tree at " +
       "exactly the pinned version; empty-table and unknown-table " +
       "requests refuse with 400/404") {
    import graft.tools.RestClient
    val wh = Files.createTempDirectory("graft-rest-cut-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("c", "t1")
    cat.createTable("c", "t2")
    cat.commitAppend("c", "t1", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    cat.commitAppend("c", "t2", Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val server = new IcebergRestServer(cat,
      Files.createTempDirectory("graft-rest-cut-exp").toString)
    try {
      val p = server.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def txnIdsUpTo(ns: String, t: String, seq: Long): Set[String] =
        cat.snapshots(ns, t).filter(_.seq <= seq).map(_.commitId)
          .filter(_.startsWith("txn-cut"))
          .map(_.stripSuffix("-0").stripSuffix("-1")).toSet
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val committer = new Thread(() => {
        try {
          (1 to 8).foreach { k =>
            val tag = s"c$k"
            cat.createBranch("c", "t1", tag)
            cat.createBranch("c", "t2", tag)
            cat.commitAppendToBranch("c", "t1", tag,
              Seq((10L + k, 1.0)).toDF("id", "v"))
            cat.commitAppendToBranch("c", "t2", tag,
              Seq((10L + k, "x")).toDF("k", "s"))
            cat.commitTransaction(Seq(
              cat.TxnPart("c", "t1", tag), cat.TxnPart("c", "t2", tag)),
              txnId = s"cut$k"): Unit
          }
        } finally stop.set(true)
      })
      committer.start()
      var cuts = 0
      try {
        while (!stop.get()) {
          val (cc, cb) = RestClient.consistentCutViaRest(p,
            Seq(("c", "t1"), ("c", "t2")))
          if (cc == 200) {
            val ts = mapper.readTree(cb).get("tables")
            assert(ts.size() === 2, cb)
            val seqs = (0 until 2).map(i =>
              ts.get(i).get("sequence-number").asLong())
            assert(txnIdsUpTo("c", "t1", seqs(0)) ===
              txnIdsUpTo("c", "t2", seqs(1)),
              s"REST cut ($seqs) split a transaction")
            cuts += 1
          } else assert(cc === 409, s"$cc $cb") // storm kept heads moving
          Thread.sleep(20)
        }
      } finally { stop.set(true); committer.join(60000) }
      // quiesced: the final cut must succeed, see all 8 transactions,
      // and each pinned location must READ BACK at the pinned version
      val (fc, fb) = RestClient.consistentCutViaRest(p,
        Seq(("c", "t1"), ("c", "t2")))
      assert(fc === 200, fb)
      assert(cuts >= 0) // storm-window successes are best-effort
      val ts = mapper.readTree(fb).get("tables")
      (0 until 2).foreach { i =>
        val e = ts.get(i)
        val t = e.get("identifier").get("name").asText()
        val seq = e.get("sequence-number").asLong()
        assert(txnIdsUpTo("c", t, seq).size === 8)
        val tree = Paths.get(java.net.URI.create(
          e.get("metadata-location").asText())).getParent.getParent
        val back = IcebergExport.readExported(spark, tree.toString)
        assert(back.count() === cat.readVersion("c", t, seq).count(),
          s"pinned tree of c.$t must read at v$seq")
      }
      // refusals: empty table -> 400, unknown table -> 404
      cat.createTable("c", "empty")
      val (ec, eb) = RestClient.consistentCutViaRest(p,
        Seq(("c", "t1"), ("c", "empty")))
      assert(ec === 400, eb)
      assert(eb.contains("empty table"), eb)
      val (nc, _) = RestClient.consistentCutViaRest(p,
        Seq(("c", "ghost")))
      assert(nc === 404)
    } finally server.stop()
  }

  test("shared-store serving (round-14): successive LOADs re-export " +
       "O(delta) against a per-table content-addressed store, the sweep " +
       "keeps the store equal to the serving window's refs, and DROP " +
       "reclaims it") {
    val wh = Files.createTempDirectory("graft-rest-shwh").toString
    val cat = new GraftCatalog(spark, wh)
    val rows = (0 until 200).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    cat.createTable("ns", "sh")
    cat.commitAppend("ns", "sh", rows.filter($"id" < 100))

    val exportRoot = Files.createTempDirectory("graft-rest-shexp").toString
    // grace 0: this test pins the MINIMAL serving window's store sweep;
    // the grace retention has its own spec
    val server = new IcebergRestServer(cat, exportRoot, serveGraceMs = 0L)
    try {
      val p = server.boundPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sharedDir = Paths.get(exportRoot, "ns", "sh", "_shared")
      def load(): String = {
        val (c, b) = httpGet(p, "/v1/namespaces/ns/tables/sh")
        assert(c === 200, b)
        mapper.readTree(b).get("metadata-location").asText()
      }
      def treeOf(loc: String): java.nio.file.Path =
        Paths.get(java.net.URI.create(loc)).getParent.getParent
      def storeHashes(): Map[String, String] = {
        def files(sub: String): Seq[java.nio.file.Path] = {
          val d = sharedDir.resolve(sub)
          if (!Files.isDirectory(d)) Seq.empty
          else { val s = Files.list(d); try s.iterator().asScala.toList finally s.close() }
        }
        (files("data") ++ files("metadata")).map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
          s"${f.getParent.getFileName}/${f.getFileName}" -> h
        }.toMap
      }

      val loc1 = load()
      assert(Files.isDirectory(sharedDir), "export must build the shared store")
      // the served manifests live in the store, not the tree
      val meta1 = new String(Files.readAllBytes(
        Paths.get(java.net.URI.create(loc1))), "UTF-8")
      assert(meta1.contains("_shared/metadata/"), "manifest lists must be store-resident")
      val before = storeHashes()

      cat.commitAppend("ns", "sh", rows.filter($"id" >= 100))
      val loc2 = load()
      assert(loc2 !== loc1)
      // delta re-export: every pre-existing store object is byte-untouched
      val after = storeHashes()
      before.foreach { case (n, h) =>
        assert(after.get(n).contains(h), s"store object $n changed across loads") }
      assert(after.size > before.size)
      // the new tree reads back the full table through the store objects
      val back = IcebergExport.readExported(spark, treeOf(loc2).toString)
      assert(back.count() === 200L)

      // expiry moves every digest; two more loads roll the pre-expiry
      // objects out of the serving window and the sweep reclaims them:
      // the store ends EXACTLY equal to the window's refs union
      cat.expireSnapshots("ns", "sh", retainLast = 1): Unit
      val loc3 = load()
      cat.commitAppend("ns", "sh", rows.filter($"id" < 50)
        .select($"id" + 1000 as "id", $"v")): Unit
      val loc4 = load()
      assert(!Files.exists(treeOf(loc1)) && !Files.exists(treeOf(loc2)),
        "trees outside the serving window must be deleted")
      val windowRefs: Set[String] = Seq(loc3, loc4).flatMap { l =>
        Files.readAllLines(treeOf(l).resolve("refs.txt"))
          .asScala.filter(_.nonEmpty)
      }.toSet
      val storeNames = storeHashes().keySet
      assert(storeNames === windowRefs,
        "the store must hold exactly the serving window's referenced objects")
      assert(before.keySet.exists(n => !storeNames.contains(n)),
        "pre-expiry objects must have been swept")
      assert(IcebergExport.readExported(spark, treeOf(loc4).toString)
        .count() === 250L)

      // DROP reclaims the store with the trees
      val del = java.net.URI.create(
        s"http://127.0.0.1:$p/v1/namespaces/ns/tables/sh").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      del.setRequestMethod("DELETE")
      assert(del.getResponseCode === 204)
      assert(!Files.exists(sharedDir), "DROP must reclaim the shared store")
    } finally server.stop()
  }

  test("shared store survives a server RESTART: a fresh server on the " +
       "same export root reuses the store byte-identically (restart ≠ " +
       "full re-export) and its sweep respects the new serving window") {
    val wh = Files.createTempDirectory("graft-rest-rswh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "rs")
    cat.commitAppend("ns", "rs",
      (0 until 120).map(i => (i.toLong, i * 1.5)).toDF("id", "v"))
    cat.commitAppend("ns", "rs",
      (120 until 200).map(i => (i.toLong, i * 1.5)).toDF("id", "v"))
    val exportRoot = Files.createTempDirectory("graft-rest-rsexp").toString
    val sharedDir = Paths.get(exportRoot, "ns", "rs", "_shared")
    def storeHashes(): Map[String, String] = {
      def files(sub: String): Seq[java.nio.file.Path] = {
        val d = sharedDir.resolve(sub)
        if (!Files.isDirectory(d)) Seq.empty
        else { val s = Files.list(d); try s.iterator().asScala.toList finally s.close() }
      }
      (files("data") ++ files("metadata")).map { f =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
        s"${f.getParent.getFileName}/${f.getFileName}" -> h
      }.toMap
    }

    val s1 = new IcebergRestServer(cat, exportRoot)
    try { assert(httpGet(s1.boundPort, "/v1/namespaces/ns/tables/rs")._1 === 200) }
    finally s1.stop()
    val before = storeHashes()
    assert(before.nonEmpty)

    // RESTART (fresh memo, same root): the first load finds the same
    // digests and reuses — every prior object byte-untouched; only a
    // new metadata tree is written
    val s2 = new IcebergRestServer(cat, exportRoot)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val (c1, b1) = httpGet(s2.boundPort, "/v1/namespaces/ns/tables/rs")
      assert(c1 === 200)
      val after = storeHashes()
      assert(after === before,
        "a restarted server must reuse the store byte-identically")
      // and the restarted serving still composes with new commits
      cat.commitAppend("ns", "rs",
        (200 until 220).map(i => (i.toLong, i * 1.5)).toDF("id", "v"))
      val (c2, b2) = httpGet(s2.boundPort, "/v1/namespaces/ns/tables/rs")
      assert(c2 === 200)
      val loc2 = mapper.readTree(b2).get("metadata-location").asText()
      val tree2 = Paths.get(java.net.URI.create(loc2)).getParent.getParent
      assert(IcebergExport.readExported(spark, tree2.toString).count() === 220L)
      // pre-restart objects still byte-identical inside the grown store
      val grown = storeHashes()
      before.foreach { case (n, h) =>
        assert(grown.get(n).contains(h), s"store object $n changed") }
      assert(grown.size > before.size)
    } finally s2.stop()
  }
}

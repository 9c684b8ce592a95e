package graft.operators

import graft.{Q, Tables}
import graft.sources.{Importers, TimeSeriesStore}
import org.apache.spark.sql.functions._

/** Importer / exporter round-trips and the time-partitioned TS layout
  * (SURVEY.md §2.1 importers/exporters + FetchFromTimeSeriesStep rows).
  * Every entry does the REAL I/O — export to the format, re-import, and
  * verify the round-tripped rows against the oracle reading the pristine
  * parquet — so a pass proves both directions of the format code.
  */
object ImportOps {

  private def slug(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")
  private def stateDir(q: String, d: String): String = s"/tmp/graft_state/${q}_${slug(d)}"

  val all: Seq[Q] = Seq(

    // ---- CSV export → LOAD CSV import (CSVImporterFormat / LoadCSVStep) ----
    Q("q_import_csv",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      val src = Tables.nation(s, d)
      val dir = stateDir("csv", d)
      Importers.writeCsv(src, dir)
      Importers.readCsv(s, dir, Some(src.schema))
        .orderBy("n_nationkey")
    },

    // ---- JSONL export → import (JsonlExporter/ImporterFormat) ----
    Q("q_import_jsonl",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val src = Tables.orders(s, d).filter(col("o_orderkey") < 200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      val dir = stateDir("jsonl", d)
      Importers.writeJsonl(src, dir)
      Importers.readJsonl(s, dir, Some(src.schema))
        .orderBy("o_orderkey")
    },

    // ---- RDF N-Triples generate → parse (RDFImporterFormat) ----
    Q("q_import_ntriples",
      """SELECT subject, predicate, obj FROM (
        |  SELECT 'nation/' || n_nationkey AS subject, 'hasName' AS predicate,
        |    n_name AS obj FROM nation
        |  UNION ALL
        |  SELECT 'nation/' || n_nationkey, 'inRegion', 'region/' || n_regionkey
        |  FROM nation)
        |ORDER BY subject, predicate, obj""".stripMargin) { (s, d) =>
      val n = Tables.nation(s, d)
      val lines = n.select(concat(lit("<nation/"), col("n_nationkey"), lit("> <hasName> \""),
          col("n_name"), lit("\" .")).as("value"))
        .union(n.select(concat(lit("<nation/"), col("n_nationkey"), lit("> <inRegion> <region/"),
          col("n_regionkey"), lit("> .")).as("value")))
      val dir = stateDir("nt", d)
      lines.write.mode("overwrite").text(dir)
      Importers.readNTriples(s, dir)
        .orderBy("subject", "predicate", "obj")
    },

    // ---- GloVe text generate → parse (GloVeImporterFormat) ----
    Q("q_import_glove",
      """SELECT 'tok' || vec_id AS token,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS v1,
        |  round(CAST(embedding[2] AS DOUBLE), 6) AS v2,
        |  round(CAST(embedding[3] AS DOUBLE), 6) AS v3,
        |  round(CAST(embedding[4] AS DOUBLE), 6) AS v4
        |FROM embeddings WHERE vec_id < 50 ORDER BY token""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 50)
      val lines = e.select(concat_ws(" ",
        concat(lit("tok"), col("vec_id")),
        round(element_at(col("embedding"), 1).cast("double"), 6).cast("string"),
        round(element_at(col("embedding"), 2).cast("double"), 6).cast("string"),
        round(element_at(col("embedding"), 3).cast("double"), 6).cast("string"),
        round(element_at(col("embedding"), 4).cast("double"), 6).cast("string")).as("value"))
      val dir = stateDir("glove", d)
      lines.write.mode("overwrite").text(dir)
      Importers.readGlove(s, dir)
        .select(col("token"),
          element_at(col("vector"), 1).as("v1"), element_at(col("vector"), 2).as("v2"),
          element_at(col("vector"), 3).as("v3"), element_at(col("vector"), 4).as("v4"))
        .orderBy("token")
    },

    // ---- InfluxDB line protocol: generate → parse (LineProtocolParser) ----
    Q("q_import_lineprotocol",
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).filter(col("event_id") < 200)
      val lines = ev.select(concat(
        lit("events,event_id="), col("event_id"),
        lit(",user_id="), col("user_id"),
        lit(",event_type="), col("event_type"),
        lit(" value="), col("value").cast("string"),
        lit(" "), (unix_micros(col("ts")) * 1000).cast("string")).as("value"))
      val dir = stateDir("lineproto", d)
      lines.write.mode("overwrite").text(dir)
      Importers.readLineProtocol(s, dir)
        .select(
          element_at(col("tags"), "event_id").cast("long").as("event_id"),
          element_at(col("tags"), "user_id").cast("long").as("user_id"),
          element_at(col("tags"), "event_type").as("event_type"),
          element_at(col("fields"), "value").cast("double").as("value"),
          col("ts"))
        .orderBy("event_id")
    },

    // ---- Word2Vec text (header line + token vectors) → import ----
    Q("q_import_word2vec",
      """SELECT 'tok' || vec_id AS token,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS v1,
        |  round(CAST(embedding[2] AS DOUBLE), 6) AS v2
        |FROM embeddings WHERE vec_id < 50 ORDER BY token""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 50)
      val header = graft.OneRow(e.sparkSession).select(lit("50 2").as("value"))
      val lines = e.select(concat_ws(" ",
        concat(lit("tok"), col("vec_id")),
        round(element_at(col("embedding"), 1).cast("double"), 6).cast("string"),
        round(element_at(col("embedding"), 2).cast("double"), 6).cast("string")).as("value"))
      val dir = stateDir("w2v", d)
      header.union(lines).coalesce(1).write.mode("overwrite").text(dir)
      Importers.readWord2Vec(s, dir)
        .select(col("token"),
          element_at(col("vector"), 1).as("v1"), element_at(col("vector"), 2).as("v2"))
        .orderBy("token")
    },

    // ---- OrientDB export JSON → import (OrientDBImporterFormat) ----
    Q("q_import_orientdb",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      val n = Tables.nation(s, d)
      // generate the export document: {"records":[{"@type":"d","@class":"Nation",…},…]}
      val doc = n.agg(concat(lit("""{"records":["""),
        array_join(collect_list(to_json(struct(
          lit("d").as("@type"), lit("Nation").as("@class"),
          col("n_nationkey"), col("n_name"), col("n_regionkey")))), ","),
        lit("]}")).as("value"))
      val dir = stateDir("orientdb", d)
      doc.coalesce(1).write.mode("overwrite").text(dir)
      Importers.readOrientDbExport(s, dir, "Nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // ---- XML export → import (XMLImporterFormat; Spark-native XML source) ----
    Q("q_import_xml",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val src = Tables.customer(s, d).filter(col("c_custkey") < 100)
        .select("c_custkey", "c_name", "c_acctbal")
      val dir = stateDir("xml", d)
      Importers.writeXml(src, dir, rowTag = "customer")
      Importers.readXml(s, dir, rowTag = "customer", Some(src.schema))
        .orderBy("c_custkey")
    },

    // ---- Neo4j JSONL dump generate → import (Neo4jImporter.java:222):
    //      nodes + relationships re-joined into a per-region census ----
    Q("q_import_neo4j",
      """SELECT r_name AS region, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin) { (s, d) =>
      val nat = Tables.nation(s, d)
      val reg = Tables.region(s, d)
      // generate the dump: one JSON object per line, Neo4j export shape
      val nodeLines = nat.select(to_json(struct(
          lit("node").as("type"),
          concat(lit("n"), col("n_nationkey")).as("id"),
          array(lit("nation")).as("labels"),
          struct(col("n_nationkey").as("key"), col("n_name").as("name")).as("properties")))
          .as("value"))
        .union(reg.select(to_json(struct(
          lit("node").as("type"),
          concat(lit("r"), col("r_regionkey")).as("id"),
          array(lit("region")).as("labels"),
          struct(col("r_regionkey").as("key"), col("r_name").as("name")).as("properties")))
          .as("value")))
      val relLines = nat.select(to_json(struct(
          lit("relationship").as("type"),
          lit("IN_REGION").as("label"),
          struct(concat(lit("n"), col("n_nationkey")).as("id")).as("start"),
          struct(concat(lit("r"), col("n_regionkey")).as("id")).as("end")))
          .as("value"))
      val dir = stateDir("neo4j", d)
      nodeLines.union(relLines).write.mode("overwrite").text(dir)
      val (nodes, rels) = Importers.readNeo4j(s, dir)
      val regions = nodes.filter(array_contains(col("labels"), "region"))
        .select(col("id").as("dst"), col("properties.name").as("region"))
      rels.filter(col("label") === "IN_REGION")
        .join(regions, Seq("dst"))
        .groupBy("region").agg(count(lit(1)).as("n_nations"))
        .orderBy("region")
    },

    // ---- day-partitioned TS layout: range scan prunes partitions ----
    Q("q_ts_partition_prune",
      """SELECT event_type, count(*) AS n,
        |  sum(value::DECIMAL(28,4))::DOUBLE AS total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val dir = stateDir("tspart", d)
      // build-once: the layout is an ingest-time artifact; per-run queries
      // measure the pruned scan, not the rewrite (LayoutOnce scaladoc)
      graft.sources.LayoutOnce.ensure(dir, graft.sources.LayoutOnce.srcFingerprint(s"$d/events.parquet"), "tspart-day-v1") {
        TimeSeriesStore.writePartitioned(Tables.events(s, d), dir)
      }
      TimeSeriesStore.readPartitioned(s, dir)
        .filter(col("bucket_date").between("2024-01-10", "2024-01-15"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,4)")).cast("double").as("total"))
        .orderBy("event_type")
    },

    // ---- downsample-tier aggregation pushdown: day grain answered
    //      from the hourly tier, never the raw table ----
    Q("q_ts_tier_agg",
      """SELECT date_trunc('day', ts) AS bucket, event_type,
        |  count(*) AS n, sum(value::DECIMAL(28,4))::DOUBLE AS total,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin) { (s, d) =>
      val tier = stateDir("tstier", d)
      graft.sources.LayoutOnce.ensure(tier, graft.sources.LayoutOnce.srcFingerprint(s"$d/events.parquet"), "tstier-hourly-v1") {
        TimeSeriesStore.buildHourlyTier(Tables.events(s, d), tier)
      }
      TimeSeriesStore.dailyFromHourlyTier(s, tier)
        .orderBy("bucket", "event_type")
    },

    // ---- file-stats range scan: the key-clustered layout + min/max
    //      manifest skips files, not just partitions (FetchFromIndexStep /
    //      LSMTreeIndex range-scan analog) ----
    Q("q_index_range_scan",
      """SELECT user_id, count(*) AS n,
        |  sum(value::DECIMAL(28,4))::DOUBLE AS total
        |FROM events WHERE user_id BETWEEN 40 AND 49
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val dir = stateDir("statsstore", d)
      graft.sources.LayoutOnce.ensure(dir, graft.sources.LayoutOnce.srcFingerprint(s"$d/events.parquet"), "stats-user_id-f16-v3") {
        graft.sources.StatsStore.write(
          Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value"),
          dir, "user_id", numFiles = 16)
      }
      val (pruned, _, _) = graft.sources.StatsStore.rangeScan(s, dir, "user_id", 40, 49)
      pruned.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,4)")).cast("double").as("total"))
        .orderBy("user_id")
    },

    // ---- CREATE INDEX statement end-to-end (CreateIndexStatement.java +
    //      FetchFromIndexStep.java): the DDL re-clusters the type's
    //      storage + writes the manifest, and the post-DDL SQL scan
    //      carries the files-skipped gate (df.inputFiles counts the
    //      parquet files actually feeding the plan) ----
    Q("q_sql_create_index",
      """SELECT user_id, count(*) AS n,
        |  sum(value::DECIMAL(28,4))::DOUBLE AS total
        |FROM events WHERE user_id BETWEEN 20 AND 29
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val dir = stateDir("createindex", d)
      Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(dir)
      val cat = graft.schema.TypeCatalog.fresh()
      cat.createType("ev", "DOCUMENT", path = Some(_ => dir))
      val status = graft.sql.GraftSql.statement(s, d,
        "CREATE INDEX ON ev (user_id) NOTUNIQUE", cat).collect()
      require(status(0).getAs[String]("status") == "CREATED", status.mkString)
      val out = graft.sql.GraftSql.query(s, d,
        "SELECT user_id, value FROM ev WHERE user_id BETWEEN 20 AND 29", cat)
      val total = s.read.parquet(dir).inputFiles.length
      require(out.inputFiles.length < total,
        s"post-DDL scan read ${out.inputFiles.length}/$total files — index pruning regressed")
      out.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,4)")).cast("double").as("total"))
        .orderBy("user_id")
    },

    // ---- SELECT FROM schema:indexes (FetchFromSchemaIndexesStep) ----
    Q("q_schema_indexes",
      """SELECT * FROM (VALUES
        |  ('ev[user_id]', 'ev', 'user_id', 'NOTUNIQUE', 'RANGE'),
        |  ('zx', 'ev', 'event_id,user_id', 'NOTUNIQUE', 'ZORDER')
        |) AS t(name, type, props, uniqueness, kind) ORDER BY name""".stripMargin) { (s, d) =>
      val dir = stateDir("schemaindexes", d)
      Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(dir)
      val cat = graft.schema.TypeCatalog.fresh()
      cat.createType("ev", "DOCUMENT", path = Some(_ => dir))
      graft.sql.GraftSql.statement(s, d, "CREATE INDEX ON ev (user_id) NOTUNIQUE", cat)
      graft.sql.GraftSql.statement(s, d, "CREATE INDEX zx ON ev (event_id, user_id)", cat)
      graft.sql.GraftSql.query(s, d, "SELECT FROM schema:indexes", cat).orderBy("name")
    },

    // ---- keyed MERGE with file-level pruning: UPDATE … SET over an
    //      affected-id set rewrites ONLY manifest-hit files (the
    //      Delta/Iceberg MERGE shape the full-rewrite MutableTable model
    //      documents as its scale derivation). The in-query require() is
    //      the pruning gate: if the merge ever rewrites more than half
    //      the layout, the query throws and the correctness entry fails. ----
    Q("q_merge_pruned",
      """SELECT user_id, event_type, count(*) AS n
        |FROM (SELECT user_id,
        |        CASE WHEN user_id IN (7, 8) THEN 'MERGED' ELSE event_type END AS event_type
        |      FROM events)
        |WHERE user_id BETWEEN 5 AND 10
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val dir = stateDir("mergeset", d)
      // fresh layout every run: the merge MUTATES it, so it cannot be a
      // LayoutOnce ingest artifact like the read-only stats layouts
      graft.sources.StatsStore.write(
        Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value"),
        dir, "user_id", numFiles = 16)
      val (rewritten, total) = graft.sources.StatsStore.mergeSet(
        s, dir, "user_id", ids = Seq(7L, 8L), sets = Seq("event_type" -> lit("MERGED")))
      require(rewritten <= total / 2,
        s"mergeSet rewrote $rewritten of $total files — file pruning regressed")
      s.read.parquet(dir).filter(col("user_id").between(5, 10))
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .orderBy("user_id", "event_type")
    },

    // ---- keyed DELETE with file-level pruning (the MERGE family's
    //      delete form): affected rows drop from manifest-hit files only,
    //      with the same ≤ total/3 rewrite gate ----
    Q("q_merge_delete_pruned",
      """SELECT user_id, count(*) AS n
        |FROM events
        |WHERE user_id BETWEEN 5 AND 10 AND user_id NOT IN (7, 8)
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val dir = stateDir("mergedel", d)
      graft.sources.StatsStore.write(
        Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value"),
        dir, "user_id", numFiles = 16)
      val (rewritten, total) = graft.sources.StatsStore.mergeDelete(
        s, dir, "user_id", ids = Seq(7L, 8L))
      require(rewritten <= total / 3,
        s"mergeDelete rewrote $rewritten of $total files — file pruning regressed")
      // post-merge scans still prune through the patched manifest
      val (pruned, read, tot) = graft.sources.StatsStore.rangeScan(s, dir, "user_id", 5, 10)
      require(read < tot, s"post-delete scan read $read/$tot files")
      pruned.groupBy("user_id").agg(count(lit(1)).as("n")).orderBy("user_id")
    },

    // ---- Z-ordered composite layout: one clustering serves range
    //      predicates on EITHER column (Delta OPTIMIZE ZORDER analog;
    //      SURVEY §4.1 composite-key FetchFromIndex) — both dimensions
    //      exercised, each through the pruned scan ----
    Q("q_index_zorder_scan",
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 3 AND 5 OR event_id BETWEEN 100 AND 140
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = stateDir("zorder", d)
      graft.sources.LayoutOnce.ensure(dir, graft.sources.LayoutOnce.srcFingerprint(s"$d/events.parquet"), "zorder-user_id-event_id-f16-v3") {
        graft.sources.StatsStore.writeZOrdered(
          Tables.events(s, d).select("event_id", "user_id", "value"),
          dir, "user_id", "event_id", numFiles = 16)
      }
      val (byUser, _, _) = graft.sources.StatsStore.rangeScan(s, dir, "user_id", 3, 5)
      val (byEvent, _, _) = graft.sources.StatsStore.rangeScan(s, dir, "event_id", 100, 140)
      byUser.select("event_id", "user_id", "value")
        .unionByName(byEvent.filter(!col("user_id").between(3, 5))
          .select("event_id", "user_id", "value"))
        .orderBy("event_id")
    },

    // ---- EXPORT DATABASE statement → re-import round-trip (reference
    //      ExportDatabaseStatement.java + JsonlExporterFormat.java): the
    //      statement exports the selected types as jsonl, the check
    //      re-imports one and must reproduce the pristine rows, and the
    //      statement's own summary rows must carry the right counts ----
    Q("q_export_database",
      """SELECT n_nationkey, n_name, n_regionkey, cnt_nation, cnt_region FROM nation
        |CROSS JOIN (SELECT (SELECT count(*) FROM nation) AS cnt_nation,
        |                   (SELECT count(*) FROM region) AS cnt_region)
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val dir = stateDir("exportdb", d)
      val summary = graft.sql.GraftSql.statement(s, d,
        s"EXPORT DATABASE '$dir' WITH format = 'jsonl', includeTypes = 'nation,region'")
      val counts = summary.groupBy()
        .pivot("type", Seq("nation", "region")).sum("records")
        .select(col("nation").as("cnt_nation"), col("region").as("cnt_region"))
      Importers.readJsonl(s, s"$dir/nation",
          Some(Tables.nation(s, d).schema))
        .select("n_nationkey", "n_name", "n_regionkey")
        .crossJoin(counts)
        .orderBy("n_nationkey")
    }
  )
}

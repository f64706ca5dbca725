package graft.sources

import scala.util.hashing.MurmurHash3

import graft.Db
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthesized IMDB-schema fixture so the engine can execute the reference's
  * ACTUAL workload — the 113 join-order-benchmark SQL files shipped with the
  * reference (/root/reference/imdb/queries, schema
  * /root/reference/imdb/skinner.schema.sql). The tables are tiny (≈15k rows
  * total) but shaped for the workload: every dimension enumeration
  * (kind_type, info_type, link_type, …) and every filter vocabulary the
  * queries use (country codes, genres, '(voice)'-style cast notes, rating
  * strings, keyword slugs) is present with matching foreign keys, so the
  * joins produce rows, the UCT rule has real selectivities to learn from,
  * and MIN() results are non-trivial. Generation is deterministic
  * (MurmurHash3 of table:column:id) — re-running a process rebuilds
  * byte-identical values, and the DuckDB oracle reads the very parquet
  * files Spark wrote.
  */
object Imdb {

  val queriesDir = "/root/reference/imdb/queries"

  def indexPath: String = s"${graft.Scratch.root}/imdb"

  // --- deterministic value helpers -----------------------------------------
  private def h(table: String, col: String, id: Int): Int =
    MurmurHash3.stringHash(s"$table:$col:$id") & Int.MaxValue

  private def pick(table: String, col: String, id: Int, v: Seq[String]): String =
    v(h(table, col, id) % v.size)

  /** null every `nth` row (deterministically), else the value */
  private def orNull(table: String, col: String, id: Int, nth: Int, v: => String): String =
    if (h(table, col, id + 7) % nth == 0) null else v

  private def fk(table: String, col: String, id: Int, parentRows: Int): Int =
    1 + h(table, col, id) % parentRows

  // --- dimension enumerations (the public IMDB/JOB vocabularies) -----------
  private val kinds = Seq("movie", "tv series", "tv movie", "video movie",
    "tv mini series", "video game", "episode")
  private val companyTypes = Seq("production companies", "distributors",
    "special effects companies", "miscellaneous companies")
  private val compCastTypes = Seq("cast", "crew", "complete", "complete+verified")
  private val linkTypes = Seq("sequel", "follows", "followed by", "references",
    "referenced in", "features", "featured in", "spin off", "remake of")
  private val roles = Seq("actor", "actress", "producer", "writer", "director",
    "editor", "composer", "costume designer", "cinematographer",
    "miscellaneous crew", "production designer", "guest")
  private val infoTypes = Seq("top 250 rank", "bottom 10 rank", "rating",
    "votes", "budget", "genres", "languages", "countries", "release dates",
    "runtimes", "color info", "sound mix", "taglines", "keywords", "trivia",
    "height", "mini biography", "birth notes", "LD laserdisc", "episodes")
  private val keywords = Seq("murder", "superhero", "sequel", "hero", "nerd",
    "marvel-cinematic-universe", "marvel-comics", "based-on-comic",
    "based-on-novel", "character-name-in-title", "computer-animation",
    "computer-animated-movie", "hand-to-hand-combat", "martial-arts",
    "female-nudity", "blood", "gore", "violence", "fight", "death", "revenge",
    "murder-in-title", "second-part", "alienation", "dignity", "hospital",
    "loner", "magnet", "laser", "claw", "tv-special", "web",
    "10,000-mile-club") ++ (1 to 27).map(i => s"keyword-slug-$i")

  private val countryCodes = Seq("[us]", "[us]", "[us]", "[ru]", "[de]",
    "[jp]", "[nl]", "[pl]", "[sm]", "[gb]", "[fr]", "[it]")
  private val companyNames = Seq("YouTube", "DreamWorks Animation",
    "Twentieth Century Fox Film Corporation", "20th Century Fox Home Entertainment",
    "Warner Bros Pictures", "Lionsgate Home Entertainment",
    "Metro-Goldwyn-Mayer Pictures", "Universal Film Studio",
    "Birdemic Productions", "Champion Film Works")
  private val castNotes = Seq("(voice)", "(voice)", "(voice) (uncredited)",
    "(voice) (uncredited)", "(voice: English version)",
    "(voice: Japanese version)", "(writer)", "(writer)", "(head writer)",
    "(written by)", "(story)", "(story editor)", "(producer)", "(producer)",
    "(executive producer)", "(uncredited)", "(archive footage)")
  private val mcNotes = Seq("(as Metro-Goldwyn-Mayer Pictures)",
    "(co-production)", "(presents)", "(theatrical)", "(worldwide)", "(VHS)",
    "(USA)", "(France)", "(Japan)", "(TV)", "(Blu-ray)", "(1994)", "(2006)",
    "(2007)", "(2006) (worldwide)", "(2007) (USA)", "(200 DVD)")
  private val titleWords = Seq("Iron Man", "Kung Fu Panda", "Sherlock Holmes",
    "Shrek 2", "One Piece", "Dragon Ball Z", "Saw", "Vampire Loser",
    "Murder of an Angel", "Money Champion", "Birdemic Shock and Terror",
    "The Yogi Yuri Story", "Mord in Berlin", "Freddy vs Jason",
    "Tim and Tony Stark", "The Queen", "Internet Movie", "Golden Warner Tale")
  private val firstNames = Seq("Bert", "Angela", "Angel", "Tim", "Tony",
    "Robert", "Freddy", "Jason", "Xavier", "Zelda", "Yolanda", "Yuri",
    "Mordecai", "Anna", "Bianca", "Boris", "Alan", "Queenie", "Ang", "Bertha")
  private val lastNames = Seq("Downey", "Stark", "Mord", "Champion",
    "Angelson", "Bertman", "Yusuf", "Zorro", "Xu", "Yom", "Angstrom",
    "Bertolucci", "Timman", "Jasonsen")
  private val charNames = Seq("Tony Stark", "Iron Man", "Sherlock Holmes",
    "Angel", "Queen", "The Loser", "Kung Fu Panda", "Murder Victim",
    "Champion", "Yogi", "Dr. Mord", "Freddy", "Jason", "Bert")
  private val genres = Seq("Horror", "Drama", "Action", "Crime", "Thriller",
    "Sci-Fi", "Family", "War", "Western", "Documentary")
  private val countries = Seq("Sweden", "Germany", "USA", "Bulgaria", "Norway",
    "Denmark", "America", "American", "Japan", "France")
  private val languages = Seq("English", "German", "Danish", "Swedish",
    "Norwegian", "Denish", "Japanese", "French")
  private val releaseDates = Seq("USA: 4 May 2008", "USA: 12 March 2001",
    "USA: 8 June 1994", "Japan: 1 June 2007", "Japan: 20 April 2008",
    "USA: 15 September 2010", "Germany: 3 October 1999", "USA: 1 May 2013",
    "Japan: 9 January 2013", "Sweden: 2 February 1995")

  // --- table sizes ----------------------------------------------------------
  private val nTitle = 1000
  private val nName = 800
  private val nCharName = 600
  private val nCompany = 200
  private val nKeyword = keywords.size

  private def intCol(n: String) = StructField(n, IntegerType, nullable = true)
  private def strCol(n: String) = StructField(n, StringType, nullable = true)

  private def md5(table: String, id: Int): String =
    f"${h(table, "md5", id)}%08x${h(table, "md5b", id)}%08x"

  /** (schema, row builder, row count) per table — the full 21-table JOB
    * schema from the reference's skinner.schema.sql. */
  private lazy val tables: Seq[(String, StructType, Int, Int => Row)] = Seq(
    ("kind_type",
      StructType(Seq(intCol("id"), strCol("kind"))), kinds.size,
      (i: Int) => Row(i, kinds(i - 1))),
    ("company_type",
      StructType(Seq(intCol("id"), strCol("kind"))), companyTypes.size,
      (i: Int) => Row(i, companyTypes(i - 1))),
    ("comp_cast_type",
      StructType(Seq(intCol("id"), strCol("kind"))), compCastTypes.size,
      (i: Int) => Row(i, compCastTypes(i - 1))),
    ("link_type",
      StructType(Seq(intCol("id"), strCol("link"))), linkTypes.size,
      (i: Int) => Row(i, linkTypes(i - 1))),
    ("role_type",
      StructType(Seq(intCol("id"), strCol("role"))), roles.size,
      (i: Int) => Row(i, roles(i - 1))),
    ("info_type",
      StructType(Seq(intCol("id"), strCol("info"))), infoTypes.size,
      (i: Int) => Row(i, infoTypes(i - 1))),
    ("keyword",
      StructType(Seq(intCol("id"), strCol("keyword"), strCol("phonetic_code"))),
      nKeyword,
      (i: Int) => Row(i, keywords(i - 1), s"K${i % 100}")),

    ("title",
      StructType(Seq(intCol("id"), strCol("title"), strCol("imdb_index"),
        intCol("kind_id"), intCol("production_year"), intCol("imdb_id"),
        strCol("phonetic_code"), intCol("episode_of_id"), intCol("season_nr"),
        intCol("episode_nr"), strCol("series_years"), strCol("md5sum"))),
      nTitle,
      (i: Int) => Row(i,
        s"${pick("title", "title", i, titleWords)} ${i % 97}",
        null,
        fk("title", "kind_id", i, kinds.size),
        1950 + h("title", "year", i) % 66, // 1950..2015
        10000 + i,
        s"T${i % 100}",
        null,
        if (i % 5 == 0) Integer.valueOf(1 + i % 9) else null,
        if (i % 5 == 0) Integer.valueOf(1 + i % 24) else null,
        if (i % 7 == 0) "2000-2005" else null,
        md5("title", i))),
    ("name",
      StructType(Seq(intCol("id"), strCol("name"), strCol("imdb_index"),
        intCol("imdb_id"), strCol("gender"), strCol("name_pcode_cf"),
        strCol("name_pcode_nf"), strCol("surname_pcode"), strCol("md5sum"))),
      nName,
      (i: Int) => Row(i,
        s"${pick("name", "last", i, lastNames)}, ${pick("name", "first", i, firstNames)}",
        null, 20000 + i,
        pick("name", "gender", i, Seq("m", "m", "f", "f", null).map(identity)),
        s"C${i % 90}", s"N${i % 90}", s"S${i % 90}", md5("name", i))),
    ("char_name",
      StructType(Seq(intCol("id"), strCol("name"), strCol("imdb_index"),
        intCol("imdb_id"), strCol("name_pcode_nf"), strCol("surname_pcode"),
        strCol("md5sum"))),
      nCharName,
      (i: Int) => Row(i,
        s"${pick("char_name", "name", i, charNames)} ${i % 89}",
        null, 30000 + i, s"N${i % 90}", s"S${i % 90}", md5("char_name", i))),
    ("company_name",
      StructType(Seq(intCol("id"), strCol("name"), strCol("country_code"),
        intCol("imdb_id"), strCol("name_pcode_nf"), strCol("name_pcode_sf"),
        strCol("md5sum"))),
      nCompany,
      (i: Int) => Row(i,
        if (h("company_name", "exact", i) % 10 < 3)
          pick("company_name", "name", i, companyNames)
        else s"Company $i Film Studio",
        orNull("company_name", "cc", i, 10,
          pick("company_name", "cc", i, countryCodes)),
        40000 + i, s"N${i % 90}", s"S${i % 90}", md5("company_name", i))),

    ("aka_name",
      StructType(Seq(intCol("id"), intCol("person_id"), strCol("name"),
        strCol("imdb_index"), strCol("name_pcode_cf"), strCol("name_pcode_nf"),
        strCol("surname_pcode"), strCol("md5sum"))),
      400,
      (i: Int) => Row(i, fk("aka_name", "person_id", i, nName),
        s"${pick("aka_name", "first", i, firstNames)} ${pick("aka_name", "last", i, lastNames)}",
        null, s"C${i % 90}", s"N${i % 90}", s"S${i % 90}", md5("aka_name", i))),
    ("aka_title",
      StructType(Seq(intCol("id"), intCol("movie_id"), strCol("title"),
        strCol("imdb_index"), intCol("kind_id"), intCol("production_year"),
        strCol("phonetic_code"), intCol("episode_of_id"), intCol("season_nr"),
        intCol("episode_nr"), strCol("note"), strCol("md5sum"))),
      200,
      (i: Int) => Row(i, fk("aka_title", "movie_id", i, nTitle),
        s"${pick("aka_title", "title", i, titleWords)} aka ${i % 50}",
        null, fk("aka_title", "kind_id", i, kinds.size),
        1960 + h("aka_title", "year", i) % 56, s"T${i % 100}",
        null, null, null, null, md5("aka_title", i))),
    ("cast_info",
      StructType(Seq(intCol("id"), intCol("person_id"), intCol("movie_id"),
        intCol("person_role_id"), strCol("note"), intCol("nr_order"),
        intCol("role_id"))),
      12000,
      (i: Int) => Row(i,
        fk("cast_info", "person_id", i, nName),
        fk("cast_info", "movie_id", i, nTitle),
        orNull("cast_info", "prid", i, 10,
          fk("cast_info", "prid", i, nCharName).toString) match {
          case null => null; case s => Integer.valueOf(s.toInt)
        },
        orNull("cast_info", "note", i, 2, pick("cast_info", "note", i, castNotes)),
        h("cast_info", "ord", i) % 50,
        fk("cast_info", "role_id", i, roles.size))),
    ("complete_cast",
      StructType(Seq(intCol("id"), intCol("movie_id"), intCol("subject_id"),
        intCol("status_id"))),
      300,
      (i: Int) => Row(i, fk("complete_cast", "movie_id", i, nTitle),
        1 + h("complete_cast", "subject", i) % 2,       // cast / crew
        3 + h("complete_cast", "status", i) % 2)),      // complete / complete+verified
    ("movie_companies",
      StructType(Seq(intCol("id"), intCol("movie_id"), intCol("company_id"),
        intCol("company_type_id"), strCol("note"))),
      6000,
      (i: Int) => Row(i, fk("movie_companies", "movie_id", i, nTitle),
        fk("movie_companies", "company_id", i, nCompany),
        fk("movie_companies", "ctid", i, companyTypes.size),
        orNull("movie_companies", "note", i, 3,
          pick("movie_companies", "note", i, mcNotes)))),
    ("movie_info",
      StructType(Seq(intCol("id"), intCol("movie_id"), intCol("info_type_id"),
        strCol("info"), strCol("note"))),
      8000,
      (i: Int) => {
        // info_type drives the value family, as in the real catalog
        val it = fk("movie_info", "itid", i, infoTypes.size)
        val info = infoTypes(it - 1) match {
          case "genres" => pick("movie_info", "g", i, genres)
          case "countries" => pick("movie_info", "c", i, countries)
          case "languages" => pick("movie_info", "l", i, languages)
          case "release dates" => pick("movie_info", "r", i, releaseDates)
          case "budget" => s"$$${1 + h("movie_info", "b", i) % 200}000000"
          case "trivia" => if (i % 11 == 0) "Volker Boehm"
            else s"Trivia item ${i % 500}"
          case other => s"$other value ${i % 300}"
        }
        Row(i, fk("movie_info", "movie_id", i, nTitle), it, info,
          orNull("movie_info", "note", i, 4, s"(note ${i % 40})"))
      }),
    ("movie_info_idx",
      StructType(Seq(intCol("id"), intCol("movie_id"), intCol("info_type_id"),
        strCol("info"), strCol("note"))),
      4000,
      (i: Int) => {
        // mostly ratings/votes — what the workload probes with < / > on the
        // string form
        val rating = ((h("movie_info_idx", "r", i) % 90) + 10) / 10.0
        val (it, info) =
          if (h("movie_info_idx", "fam", i) % 10 < 6)
            (infoTypes.indexOf("rating") + 1, f"$rating%.1f")
          else if (h("movie_info_idx", "fam", i) % 10 < 8)
            (infoTypes.indexOf("votes") + 1,
              (100 + h("movie_info_idx", "v", i) % 100000).toString)
          else (infoTypes.indexOf("top 250 rank") + 1,
            (1 + h("movie_info_idx", "t", i) % 250).toString)
        Row(i, fk("movie_info_idx", "movie_id", i, nTitle), it, info, null)
      }),
    ("movie_keyword",
      StructType(Seq(intCol("id"), intCol("movie_id"), intCol("keyword_id"))),
      6000,
      (i: Int) => Row(i, fk("movie_keyword", "movie_id", i, nTitle),
        fk("movie_keyword", "keyword_id", i, nKeyword))),
    ("movie_link",
      StructType(Seq(intCol("id"), intCol("movie_id"),
        intCol("linked_movie_id"), intCol("link_type_id"))),
      1200,
      (i: Int) => Row(i, fk("movie_link", "movie_id", i, nTitle),
        fk("movie_link", "linked", i, nTitle),
        fk("movie_link", "ltid", i, linkTypes.size))),
    ("person_info",
      StructType(Seq(intCol("id"), intCol("person_id"), intCol("info_type_id"),
        strCol("info"), strCol("note"))),
      800,
      (i: Int) => Row(i, fk("person_info", "person_id", i, nName),
        fk("person_info", "itid", i, infoTypes.size),
        s"Person info ${i % 200}",
        if (i % 9 == 0) "Volker Boehm" else null))
  )

  val tableNames: Seq[String] = tables.map(_._1)

  @volatile private var written = false

  /** Write the fixture parquet (once per process) and register every table
    * as a temp view in `spark`. Idempotent and cheap after the first call. */
  def ensure(spark: SparkSession): Unit = {
    synchronized {
      if (!written) {
        tables.foreach { case (name, schema, n, gen) =>
          val rows = new java.util.ArrayList[Row](n)
          (1 to n).foreach(i => rows.add(gen(i)))
          spark.createDataFrame(rows, schema)
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$indexPath/$name.parquet")
        }
        written = true
      }
      // the VIEW is (re-)registered every call (cheap catalog op, and other
      // gates may bind names in between) but the analyzed frame is cached so
      // only the first call reads the 21 parquet footers, in one pass on the
      // driver (see Db.cachedParquet)
      frames.keySet.removeIf(_._1.sparkContext.isStopped)
      Db.cachedParquet(frames, spark,
        tableNames.map(n => (spark, n) -> s"$indexPath/$n.parquet"))
        .zip(tableNames).foreach { case (df, n) => df.createOrReplaceTempView(n) }
    }
  }

  private val frames = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** The reference query files, sorted (01a.sql … 33c.sql). */
  def queryFiles: Seq[java.nio.file.Path] = {
    val dir = java.nio.file.Paths.get(queriesDir)
    scala.util.Using.resource(java.nio.file.Files.list(dir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".sql")).toSeq
    }.sortBy(_.getFileName.toString)
  }

  def queryText(file: String): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(queriesDir, file)).trim.stripSuffix(";")

  /** Number of relation instances in a JOB query = FROM-list entries. */
  def relationCount(text: String): Int = {
    val lower = text.toLowerCase
    val from = lower.indexOf(" from ")
    val where = lower.indexOf(" where ")
    text.substring(from + 6, if (where > from) where else text.length)
      .split(",").length
  }

  /** CTE prefix binding every JOB table name to the exact parquet files
    * Spark wrote. */
  private def ctePrefix: String =
    tableNames.map(t =>
      s""""$t" AS (SELECT * FROM read_parquet('$indexPath/$t.parquet/*.parquet'))""")
      .mkString("WITH ", ",\n     ", "\n")

  /** DuckDB oracle for a reference query: CTEs bind every table name to the
    * exact parquet files Spark wrote, then the original text runs verbatim. */
  def oracleFor(file: String): String = ctePrefix + queryText(file)

  /** The output column aliases of a JOB query, extracted from its select
    * list (every JOB select item is `MIN(...) AS alias`; verified unique
    * per query across all 113 files). */
  def selectAliases(text: String): Seq[String] = {
    // normalize whitespace first: a FROM preceded by a newline/tab instead
    // of a space would otherwise miss the literal " from " search
    val norm = text.replaceAll("\\s+", " ")
    val sel = "(?i)\\bfrom\\b".r.findFirstMatchIn(norm)
      .map(m => norm.substring(0, m.start)).getOrElse(norm)
    "(?i)\\bAS\\s+(\\w+)".r.findAllMatchIn(sel).map(_.group(1)).toSeq
  }

  /** Composite oracle over several JOB files: every file's single MIN() row
    * is stringified (`a|b|c`, nulls as `<null>`) so N whole queries
    * hash-verify through ONE registry entry with a fixed (qfile, result)
    * schema — the batching the 96 remaining verbatim texts need to fit the
    * driver's bench-line budget. Each subquery below runs the reference
    * text verbatim; the stringification wrapper is portable (CAST int/str
    * to VARCHAR is identical in both engines). */
  def batchOracle(files: Seq[String]): String = {
    val items = files.map { f =>
      val text = queryText(f)
      val cols = selectAliases(text)
        .map(a => s"coalesce(CAST($a AS VARCHAR), '<null>')").mkString(", ")
      s"SELECT '$f' AS qfile, (SELECT concat_ws('|', $cols) FROM ($text) s) AS result"
    }
    ctePrefix + items.mkString("", "\nUNION ALL\n", "\nORDER BY qfile")
  }
}

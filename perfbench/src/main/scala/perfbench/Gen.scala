package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded job-offer lake in the scraper's NDJSON shape, with its ground
  * truth computed here in plain Scala. Nothing in this file touches the
  * engine, so a parent and a change given the same seed read
  * byte-identical inputs and are checked against identical numbers.
  *
  * The lake mixes what the cleaning stages exist for: duplicate
  * `job_url`s with different dates, corrupt lines, blank required
  * fields, three date formats plus unparseable ones, the NER `skills`
  * struct, and descriptions drawn from a text corpus (the sf0.1
  * `documents` table) so that the skill vocabulary matches.
  */
object Gen {

  /** What a correct `Pipeline.run` over the lake must report.
    *
    * @param raw          lines in the lake (every line is one raw row)
    * @param quarantined  lines that are not well-formed JSON
    * @param clean        distinct `job_url`s among well-formed rows whose
    *                     `job_url`, `titre` and `via` are non-blank
    * @param facts        clean offers whose earliest date parses as
    *                     `yyyy-MM-dd` or `dd/MM/yyyy`
    * @param dateless     clean offers without such a date
    * @param thirdFormat  of those, offers dated `dd MMM-HH:mm`: a format
    *                     the reference parses but `Pipeline.clean` does not
    * @param bySourceMonth facts per (lower(trim(via)), yyyymm)
    */
  final case class Truth(raw: Long, quarantined: Long, clean: Long,
      facts: Long, dateless: Long, thirdFormat: Long,
      bySourceMonth: Map[(String, Int), Long]) {
    def byMonth(ym: Int): Map[String, Long] =
      bySourceMonth.collect { case ((s, m), n) if m == ym => s -> n }
    def months: Seq[Int] = bySourceMonth.keys.map(_._2).toSeq.distinct.sorted
  }

  final case class Lake(lines: Vector[String], truth: Truth)

  /** One generated row before encoding; `None` fields are written as JSON
    * null or left out. */
  private final case class Rec(url: Option[String], titre: Option[String],
      via: Option[String], date: Option[String], description: String,
      competences: Option[String], contrat: Option[String],
      companie: Option[String], secteur: Option[String],
      etudes: Option[String], experience: Option[String],
      hard: Option[Seq[String]], soft: Option[Seq[String]])

  private val Sources = Vector("linkedin", "indeed", "rekrute", "emploi.ma",
    "glassdoor", "LinkedIn", " Indeed ")
  private val Titles = Vector("Data Engineer (H/F)", "Développeur Java",
    "Ingénieur Big Data", "Data Analyst - Junior", "Chef de projet IT",
    "Commercial terrain", "Architecte Cloud", "Data Scientist",
    "Consultant BI", "Administrateur Systèmes", "Product Owner",
    "Technicien support", "DevOps Engineer", "Stage - Data")
  private val Contracts = Vector("CDI", "cdd", "Freelance", "Stage",
    "Intérim", "CDI ", "", null)
  private val Studies = Vector("Bac+5 / Master", "Licence", "Doctorat",
    "Bac", "Bac+2", "", null)
  private val Experience = Vector("1 an", "2 ans", "5 ans", "10 ans",
    "Junior", "Senior", "3 ans", "débutant", "", null)
  private val Sectors = Vector("IT, Data", "Commerce", "Banque, Finance",
    "Industrie", "", null)
  private val Hard = Vector("Spark", "SQL", "Python", "Kafka", " scala ",
    "Airflow", "Docker", "")
  private val Soft = Vector("communication", "Teamwork", "autonomie",
    "rigueur", "")
  private val Months = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val Unparseable = Vector("", "N/A", "il y a 3 jours", null)
  private val Day0 = LocalDate.of(2023, 1, 1)
  private val Days = 730

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T =
    xs(r.nextInt(xs.size))
  private def opt(s: String): Option[String] = Option(s)

  private def date(r: SplittableRandom): String = {
    val d = Day0.plusDays(r.nextInt(Days).toLong)
    val p = r.nextDouble()
    if (p < 0.45) d.toString
    else if (p < 0.80)
      f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear}%04d"
    else if (p < 0.92)
      f"${d.getDayOfMonth}%02d ${Months(d.getMonthValue - 1)}-" +
        f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d"
    else pick(r, Unparseable)
  }

  private def skills(r: SplittableRandom, pool: Vector[String])
      : Option[Seq[String]] =
    if (r.nextInt(10) == 0) None
    else Some(Seq.fill(r.nextInt(4))(pick(r, pool)))

  private def base(r: SplittableRandom, prefix: String, k: Int,
      texts: IndexedSeq[String]): Rec = {
    val nText = 1 + r.nextInt(2)
    Rec(
      url = Some(s"https://jobs.example/$prefix/offre-$k"),
      titre = Some(pick(r, Titles)),
      via = Some(pick(r, Sources)),
      date = opt(date(r)),
      description = Seq.fill(nText)(texts(r.nextInt(texts.size))).mkString(" "),
      competences = opt(Seq.fill(1 + r.nextInt(3))(pick(r, Hard).trim)
        .mkString(", ")),
      contrat = opt(pick(r, Contracts)),
      companie = opt(if (r.nextInt(20) == 0) "" else
        s"Societe ${r.nextInt(400)}${if (r.nextInt(8) == 0) " " else ""}"),
      secteur = opt(pick(r, Sectors)),
      etudes = opt(pick(r, Studies)),
      experience = opt(pick(r, Experience)),
      hard = skills(r, Hard),
      soft = skills(r, Soft))
  }

  /** Blank one required field: the row is well-formed but cleaning must
    * drop it. */
  private def blankRequired(r: SplittableRandom, x: Rec): Rec =
    r.nextInt(3) match {
      case 0 => x.copy(url = None)
      case 1 => x.copy(titre = Some(if (r.nextBoolean()) "" else "   "))
      case _ => x.copy(via = Some(""))
    }

  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  private def json(x: Rec): String = {
    def field(k: String, v: Option[String]) =
      s"${esc(k)}:${v.map(esc).getOrElse("null")}"
    def arr(v: Option[Seq[String]]) =
      v.map(_.map(esc).mkString("[", ",", "]")).getOrElse("null")
    val sk = if (x.hard.isEmpty && x.soft.isEmpty) "null"
      else s"""{"hard_skills":${arr(x.hard)},"soft_skills":${arr(x.soft)}}"""
    Seq(field("job_url", x.url), field("titre", x.titre),
      field("via", x.via), field("publication_date", x.date),
      field("description", Some(x.description)),
      field("competences", x.competences), field("contrat", x.contrat),
      field("companie", x.companie), field("secteur", x.secteur),
      field("niveau_etudes", x.etudes),
      field("niveau_experience", x.experience), s""""skills":$sk""")
      .mkString("{", ",", "}")
  }

  private val Iso = "^(\\d{4})-(\\d{2})-(\\d{2})$".r
  private val Dmy = "^(\\d{2})/(\\d{2})/(\\d{4})$".r
  private val Third = "^\\d{2} [A-Za-z]{3}-\\d{2}:\\d{2}$".r

  /** The two formats `Pipeline.clean` parses. */
  private[perfbench] def parse(s: String): Option[LocalDate] = {
    def mk(y: String, m: String, d: String) =
      scala.util.Try(LocalDate.of(y.toInt, m.toInt, d.toInt)).toOption
    s match {
      case Iso(y, m, d) => mk(y, m, d)
      case Dmy(d, m, y) => mk(y, m, d)
      case _ => None
    }
  }

  private def blank(v: Option[String]) = v.forall(_.trim.isEmpty)

  private def truth(recs: Seq[Option[Rec]]): Truth = {
    val ok = recs.flatten
    val valid = ok.filter(x => !blank(x.url) && !blank(x.titre) &&
      !blank(x.via))
    val groups = valid.groupBy(_.url.get).values.toSeq
    // survivor: the earliest parseable date; a group without one keeps
    // a null date (and the survivor's other fields are shared)
    val survivors = groups.map { g =>
      val dated = g.flatMap(x => x.date.flatMap(parse))
      (g.head, if (dated.isEmpty) None else Some(dated.minBy(_.toEpochDay)),
        g.exists(_.date.exists(d => Third.matches(d))))
    }
    val dated = survivors.collect { case (x, Some(d), _) => (x, d) }
    val dateless = survivors.filter(_._2.isEmpty)
    Truth(
      raw = recs.size.toLong,
      quarantined = recs.count(_.isEmpty).toLong,
      clean = survivors.size.toLong,
      facts = dated.size.toLong,
      dateless = dateless.size.toLong,
      thirdFormat = dateless.count(_._3).toLong,
      bySourceMonth = dated
        .groupBy { case (x, d) =>
          (x.via.get.trim.toLowerCase(java.util.Locale.ROOT),
            d.getYear * 100 + d.getMonthValue)
        }
        .map { case (k, v) => k -> v.size.toLong })
  }

  /** A lake of about `n` lines: base offers, ~12% of them repeated with
    * another date, ~3% with a blank required field, ~2% corrupt lines.
    * `prefix` keeps job_urls of different lakes apart.
    */
  def lake(seed: Long, n: Int, texts: IndexedSeq[String],
      prefix: String): Lake = {
    require(texts.nonEmpty, "empty description corpus")
    val r = new SplittableRandom(seed)
    val recs = Vector.newBuilder[Option[Rec]]
    var k = 0
    var lines = 0
    while (lines < n) {
      var x = base(r, prefix, k, texts)
      if (r.nextInt(100) < 3) x = blankRequired(r, x)
      recs += Some(x)
      lines += 1
      if (r.nextInt(100) < 12) {
        val copies = 1 + r.nextInt(2)
        (1 to copies).foreach { _ => recs += Some(x.copy(date = opt(date(r)))) }
        lines += copies
      }
      if (r.nextInt(100) < 2) { recs += None; lines += 1 }
      k += 1
    }
    // scrapers emit in arrival order, not key order: shuffle the lines
    val all = recs.result().toArray
    var i = all.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
      i -= 1
    }
    val encoded = all.toVector.map {
      case Some(x) => json(x)
      case None =>
        // a truncated record: never valid JSON, never a blank line
        val whole = json(base(r, prefix, -1, texts))
        whole.substring(0, 2 + r.nextInt(whole.length - 3))
    }
    Lake(encoded, truth(all.toSeq))
  }

  /** Write lines as `parts` NDJSON files under `dir` (a scraper lands
    * many files; one big file would parse in one task). */
  def writeParts(lines: Seq[String], dir: Path, parts: Int): Unit = {
    Files.createDirectories(dir)
    val per = math.max(1, (lines.size + parts - 1) / parts)
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(dir.resolve(f"part-$i%05d.json"),
        chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Write one scrape file beside the landing directory, not yet
    * visible to the loader. */
  def stage(lines: Seq[String], staging: Path, name: String): Path = {
    Files.createDirectories(staging)
    Files.write(staging.resolve(name), lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  /** Land a staged file atomically: a rename, so a reader never sees a
    * partial file. */
  def land(staged: Path, landing: Path): Path = {
    Files.createDirectories(landing)
    Files.move(staged, landing.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
  }
}

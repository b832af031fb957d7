package flowbench

import scala.util.Random

/** Seeded input generator. Everything the engine sees comes from here,
  * and every derived quantity is a pure function of (seed, index): batch
  * `b` of the posting stream can be regenerated on its own, which is how
  * the answer checks rebuild their references without keeping the
  * stream in memory.
  *
  * What the generator varies is what the engine's behaviour depends on:
  *   - all 7 salary text forms SalaryParser handles and all 8 experience
  *     forms ExperienceParser handles, in every batch;
  *   - Zipf-skewed cities and skills (they set the top-skills panel's cost
  *     and the shuffle skew of every per-skill aggregate);
  *   - clustered vectors with held-out queries for the k-NN index. */
object Gen {

  /** Cities as the postings spell them; "" and null clean to "Unknown". */
  val cities: IndexedSeq[String] = IndexedSeq(
    "Hồ Chí Minh", "Hà Nội", "Đà Nẵng", "TP HCM", "Cần Thơ", "Hải Phòng",
    "Bình Dương", "Đồng Nai", "", "Khánh Hòa", "Bắc Ninh", "Huế",
    "Quảng Ninh", "Long An", "Vũng Tàu", "Nghệ An")

  val skills: IndexedSeq[String] = IndexedSeq(
    "Python", "SQL", "Java", "Excel", "Communication", "JavaScript", "Spark",
    "English", "Docker", "Kubernetes", "React", "Go", "C#", "AWS", "Linux",
    "Machine Learning", "Marketing", "Sales", "Accounting", "Photoshop",
    "Scala", "Kotlin", "PHP", "Tableau", "Power BI", "Figma", "Rust", "C++",
    "Negotiation", "Teamwork", "Leadership", "Git", "Azure", "Airflow",
    "Kafka", "Hadoop", "Swift", "Flutter", "Node.js", "Django")

  private val roles = IndexedSeq("Backend Developer", "Data Engineer",
    "Sales Executive", "Accountant", "Teacher", "Mechanical Engineer",
    "Marketing Specialist", "QA Tester")
  private val fields = IndexedSeq("IT - Phần mềm", "Kinh doanh / Bán hàng",
    "Tài chính - Ngân hàng", "Giáo dục - Đào tạo", "Kỹ thuật - Cơ khí")
  private val levels = IndexedSeq("Thực tập sinh", "Fresher",
    "Junior Developer", "Nhân viên", "Senior Developer", "Trưởng nhóm",
    "Quản lý")

  /** Cumulative Zipf(s) weights over `n` ranks. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rng: Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // The traffic mix is assumed, not measured: the reference publishes no
  // per-city or per-skill distribution (BASELINE.md). The Zipf exponents,
  // the 16 cities, the 40 skills and one posting in 40 without a title
  // are guesses; only the order of the first skills follows the reference's
  // published top hot-score list.
  private val cityZipf = new Zipf(cities.length, 1.1)
  private val skillZipf = new Zipf(skills.length, 1.0)

  /** What the ETL must derive from a posting's salary text (millions of
    * VND) and experience text (years). The generator writes it down from
    * the numbers it put into the text, not from the engine's regexes, so
    * a parser fault the streaming and batch paths share still shows. */
  final case class Parsed(salaryMin: Option[Double], salaryMax: Option[Double],
      expMin: Option[Double], expMax: Option[Double], expType: String) {
    def salaryAvg: Double = (salaryMin, salaryMax) match {
      case (Some(a), Some(b)) => (a + b) / 2
      case (Some(a), None) => a
      case _ => 0.0
    }
    /** No generated experience exceeds the 40-year noise gate. */
    def expAvg: Double = expMin.getOrElse(0.0)
  }

  /** One generated posting and what the generator knows about it. */
  final case class Posting(seq: Long, title: Option[String], city: String,
      salaryForm: Int, eventTime: String, parsed: Parsed, json: String) {
    /** The ETL's city cleaning: "" (and null) become "Unknown". */
    def cleanCity: String = if (city.isEmpty) "Unknown" else city
    /** Salary parses to a value in (0, 200], so the posting survives
      * JobFeatures.withLabels and gets a salary prediction. */
    def predictable: Boolean = title.isDefined && salaryForm != 3
  }

  private def two(n: Long): String = if (n < 10) s"0$n" else n.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  /** The 7 salary forms (SalaryParser's branches) with the (min, max) in
    * millions of VND each must parse to; all land in (0, 200] except
    * form 3, the negotiable one, which has no number. */
  private def salary(form: Int, n1: Int, n2: Int): (String, Option[Double], Option[Double]) =
    form match {
      case 0 => (s"$n1 - $n2 triệu", Some(n1), Some(n2))
      case 1 => (s"Từ $n1 triệu", Some(n1), None)
      // at 25,000 VND to the dollar
      case 2 => (s"${n1 * 100} - ${n2 * 100} USD", Some(n1 * 2.5), Some(n2 * 2.5))
      case 3 => ("Thỏa thuận", None, None)
      case 4 => (s"${n1 * 1000000L} - ${n2 * 1000000L}", Some(n1), Some(n2))
      case 5 => (s"$n1.000.000 - $n2.000.000", Some(n1), Some(n2))
      case _ => (s"${n1}m - ${n2}m", Some(n1), Some(n2))
    }

  /** The 8 experience forms (ExperienceParser's branches) with the
    * (min, max, type) each must parse to. */
  private def experience(form: Int, e1: Int, e2: Int)
      : (String, Option[Double], Option[Double], String) = form match {
    case 0 => ("Không yêu cầu kinh nghiệm", None, None, "no_requirement")
    case 1 => ("Chưa có kinh nghiệm", Some(0.0), None, "no_experience")
    case 2 => ("Mới tốt nghiệp", Some(0.0), None, "fresh_graduate")
    case 3 => (s"Từ $e1 năm", Some(e1), None, "unknown")
    case 4 => (s"$e1 - $e2 năm", Some(e1), Some(e2), "range")
    case 5 => (s"$e1+ năm", Some(e1), None, "unknown")
    case 6 => (s"Trên $e1 năm", Some(e1), None, "lower_bound")
    case _ => (s"$e1 years", Some(e1), None, "unknown")
  }

  /** Posting `seq` of stream `seed`. */
  def posting(seed: Long, seq: Long): Posting = {
    val rng = new Random(seed * 0x9E3779B97F4A7C15L + seq)
    val title =
      if (rng.nextInt(40) == 0) None
      else Some(s"${roles(rng.nextInt(roles.length))} $seq")
    val city = cities(cityZipf.draw(rng))
    val salaryForm = (seq % 7).toInt
    val n1 = 5 + rng.nextInt(30)
    val n2 = n1 + 2 + rng.nextInt(20)
    val e1 = rng.nextInt(10)
    val nSkills = 2 + rng.nextInt(4)
    val sk = Seq.fill(nSkills)(skills(skillZipf.draw(rng))).distinct
    val jobType = if (rng.nextInt(5) == 0) "Part-time" else "Full-time"
    val level = levels(rng.nextInt(levels.length))
    val (expText, expMin, expMax, expType) =
      experience((seq % 8).toInt, e1, e1 + 1 + rng.nextInt(5))
    val field = fields(rng.nextInt(fields.length))
    val (salaryText, salaryMin, salaryMax) = salary(salaryForm, n1, n2)
    val eventTime = s"2024-03-${two(1 + seq / 86400 % 28)} " +
      s"${two(seq / 3600 % 24)}:${two(seq / 60 % 60)}:${two(seq % 60)}"
    val json = Seq(
      "job_title" -> title.map(str).getOrElse("null"),
      "job_type" -> str(jobType),
      "position_level" -> str(level),
      "city" -> str(city),
      "experience" -> str(expText),
      "skills" -> str(sk.mkString(", ")),
      "job_fields" -> str(field),
      "salary" -> str(salaryText),
      "unit" -> str("VND"),
      "event_time" -> str(eventTime),
      "event_type" -> str("created"))
      .map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    Posting(seq, title, city, salaryForm, eventTime,
      Parsed(salaryMin, salaryMax, expMin, expMax, expType), json)
  }

  /** Batch `b` of `size` postings: sequence numbers b·size until (b+1)·size. */
  def batch(seed: Long, b: Int, size: Int): IndexedSeq[Posting] =
    (0 until size).map(i => posting(seed, b.toLong * size + i))

  /** One dashboard interaction's parameters: a Zipf-drawn city for the
    * top-skills panel and a drawn posting title for the prediction panel. */
  final case class Interaction(city: String, title: String)

  def interactions(seed: Long, corpus: IndexedSeq[Posting], n: Int): IndexedSeq[Interaction] = {
    val rng = new Random(seed * 31 + 7)
    val titled = corpus.filter(_.predictable)
    IndexedSeq.fill(n)(Interaction(
      cities(cityZipf.draw(rng)) match { case "" => "Unknown"; case c => c },
      titled(rng.nextInt(titled.length)).title.get))
  }

  /** Clustered vectors: `n` corpus points and `q` held-out queries drawn
    * from the same mixture of 32 blobs. Each blob spreads along its own
    * 4-dimensional subspace plus a little isotropic noise, so the data has
    * the low intrinsic dimension of real embeddings. */
  final case class Vectors(corpus: IndexedSeq[Array[Double]],
      queries: IndexedSeq[Array[Double]])

  private val Centers = 32
  private val Rank = 4
  private val Spread = 0.6
  private val Noise = 0.05

  def vectors(seed: Long, n: Int, q: Int, dim: Int): Vectors = {
    val rng = new Random(seed * 131 + 17)
    val cs = IndexedSeq.fill(Centers)(Array.fill(dim)(rng.nextGaussian()))
    val bases = IndexedSeq.fill(Centers)(Array.fill(Rank, dim)(rng.nextGaussian()))
    def point(): Array[Double] = {
      val c = rng.nextInt(Centers)
      val z = Array.fill(Rank)(Spread * rng.nextGaussian())
      Array.tabulate(dim)(j =>
        cs(c)(j) + (0 until Rank).map(r => z(r) * bases(c)(r)(j)).sum +
          Noise * rng.nextGaussian())
    }
    Vectors(IndexedSeq.fill(n)(point()), IndexedSeq.fill(q)(point()))
  }
}

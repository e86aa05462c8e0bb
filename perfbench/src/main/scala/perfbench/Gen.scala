package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. A drop's bytes are a function of the seed and
  * the drop's index only: the same seed gives byte-identical files.
  */
object Gen {
  val Header = "id,title,ai_field_of_activity,created_at,salary_to"
  private val Epoch = LocalDate.of(2024, 1, 1)

  def fileName(i: Int): String = s"vacancies_${Epoch.plusDays(i.toLong).toString.replace("-", "")}.csv"
  def date(i: Int): String = Epoch.plusDays(i.toLong).toString

  final case class Row(id: Long, title: String, field: String, date: String, salary: String) {
    def csv: String = s"$id,$title,$field,$date,$salary"
  }

  def render(rows: Seq[Row]): Array[Byte] = {
    val sb = new StringBuilder(Header).append('\n')
    rows.foreach(r => sb.append(r.csv).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  /** Write then rename, so a reader never sees a half-written drop. */
  def land(dir: Path, name: String, bytes: Array[Byte], staging: Path): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ i)

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def shuffled[T](xs: Seq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  private def salary(r: SplittableRandom): String =
    if (r.nextDouble() < 0.2) "" else (40000 + 1000 * r.nextInt(260)).toString

  // --- vacancy_daily vocabulary -------------------------------------------

  /** Job titles: roles that hit the reference title rules, and roles that
    * fall to the 'Другое' fallback. No value contains ", " (the classifier
    * prompt's item separator), a comma or a quote.
    */
  val roles: Seq[String] = Seq(
    "Аналитик данных", "Data Analyst", "BI-аналитик", "Системный аналитик",
    "Бизнес-аналитик", "Веб-аналитик", "Финансовый аналитик", "Продуктовый аналитик",
    "ML-инженер", "Data Scientist", "DevOps-инженер", "Python разработчик",
    "Java developer", "Frontend-разработчик", "Программист 1С", "Директор по маркетингу",
    "Генеральный директор", "Коммерческий директор", "Директор по продукту",
    "Директор по продажам", "Главный маркетолог", "Маркетолог", "Контент-менеджер",
    "Специалист по трафику", "Менеджер продукта", "Product Manager",
    "Бухгалтер", "Водитель", "Курьер", "Юрист", "Кладовщик", "Повар",
    "Менеджер по продажам", "Оператор call-центра", "Дизайнер интерфейсов")
  private val prefixes = Seq("", "Senior ", "Junior ", "Middle ", "Ведущий ", "Старший ", "Lead ")
  private val suffixes = Seq("", " (удалённо)", " (гибрид)", " в команду платформы", " в стартап",
    " со знанием английского")

  /** Fields of activity: keyword hits for the 17 reference field rules,
    * and values no rule matches ('Другое', which the field task retries).
    */
  val fields: Seq[String] = Seq(
    "IT-технологии", "Разработка ПО", "SaaS", "Банк", "Финтех", "МФО", "Инвестиции",
    "Страхование", "Розничная торговля", "Ритейл", "FMCG", "Интернет-магазин",
    "Маркетплейс", "E-commerce", "Производство", "Завод", "Фармацевтика", "Медицина",
    "EdTech", "Онлайн образование", "Реклама", "Digital маркетинг", "Медиа", "Логистика",
    "Доставка", "Туризм", "Гостиницы", "Телеком", "Недвижимость", "Строительство",
    "Нефть и газ", "Энергетика", "Госуслуги", "Консалтинг", "iGaming", "Развлечения",
    "HR", "Юридические услуги", "Сельское хозяйство", "Искусство", "Спорт",
    "Некоммерческая организация")

  /** vacancy_daily: one drop per simulated day, ~600 rows. Titles are
    * Zipf-skewed over a fixed universe, so they recur from day to day; 10%
    * of rows re-post an earlier row verbatim (cross-file duplicates), 5%
    * re-use an earlier id with new content (same-id updates); fields are
    * blank in 6% of rows and compound `a. b` in 34%.
    */
  final class Daily(seed: Long) {
    private val setupRng = rng(seed, 1, 0)
    private val titleUniverse = shuffled(
      for (p <- prefixes; r <- roles; s <- suffixes) yield p + r + s, setupRng)
    private val fieldOrder = shuffled(fields, setupRng)
    private val titleZipf = new Zipf(titleUniverse.size, 0.85)
    private val fieldZipf = new Zipf(fieldOrder.size, 0.9)
    private val days = ArrayBuffer.empty[IndexedSeq[Row]]
    private var nextId = 1L

    private def field(r: SplittableRandom): String = {
      val u = r.nextDouble()
      if (u < 0.03) ""
      else if (u < 0.06) "  "
      else if (u < 0.40) s"${fieldOrder(fieldZipf.sample(r))}. ${fieldOrder(fieldZipf.sample(r))}"
      else fieldOrder(fieldZipf.sample(r))
    }

    private def title(r: SplittableRandom): String =
      if (r.nextDouble() < 0.02) "" else titleUniverse(titleZipf.sample(r))

    /** Rows of day `d` (days are generated in order and memoized). */
    def day(d: Int): IndexedSeq[Row] = {
      while (days.size <= d) days += make(days.size)
      days(d)
    }

    private def make(d: Int): IndexedSeq[Row] = {
      val r = rng(seed, 2, d.toLong)
      val recent = days.takeRight(3).flatten
      val n = 560 + r.nextInt(81)
      IndexedSeq.fill(n) {
        val u = r.nextDouble()
        if (u < 0.10 && recent.nonEmpty) recent(r.nextInt(recent.size))
        else if (u < 0.15 && recent.nonEmpty) {
          val old = recent(r.nextInt(recent.size))
          Row(old.id, if (r.nextBoolean()) old.title else title(r), old.field, date(d), salary(r))
        } else {
          val id = nextId; nextId += 1
          Row(id, title(r), field(r), date(d), salary(r))
        }
      }
    }
  }
}

package perfbench

import scala.collection.mutable
import scala.util.Random
import graft.sources.Pagination

/** Seeded source for `etl_refresh`: the paged course and activity APIs of
  * one refresh cycle, plus the truth the sink must hold afterwards.
  *
  * Courses follow `graft.ingest.CourseFixture.schema`: optional scalars are
  * absent or null, arrays and maps may be empty, and `requirements` takes
  * both guard cases (key absent, `list` null) besides empty and filled
  * lists. Activity records follow `ActivityPipeline.rawSchema`, with
  * `Z`-suffixed timestamps and absent optional fields. Refresh pages mix
  * updated and new course ids (stored with `ON CONFLICT DO NOTHING`) and
  * updated and new activity keys (merged latest-wins).
  */
final class EtlSource(seed: Long, cycle: Int, val sizes: EtlSource.Sizes) {
  import EtlSource._

  private val rnd = new Random(seed * 1000003L + cycle)

  /** Stored course title by id (first writer wins). */
  val courseTitle = mutable.LinkedHashMap[Long, String]()
  private val relationRows = mutable.Map[String, Long]().withDefaultValue(0L)
  /** Latest (user_name, completion_ratio) by (user_id, course_id). */
  val activity = mutable.LinkedHashMap[(Long, Long), (String, Double)]()

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def q(s: String) = "\"" + s + "\""
  private def arr(xs: Seq[String]) = xs.mkString("[", ", ", "]")

  private def course(id: Long, title: String): String = {
    val f = mutable.ArrayBuffer[String]()
    def put(k: String, v: String): Unit = f += s"${q(k)}: $v"
    // optional scalar: present, null or absent
    def opt(k: String, v: => String): Unit = rnd.nextInt(4) match {
      case 0 => ()
      case 1 => put(k, "null")
      case _ => put(k, v)
    }
    put("id", id.toString); put("title", q(title))
    opt("description", q(s"About $title"))
    put("url", q(s"/course/$id/"))
    put("estimated_content_length", (30 + rnd.nextInt(900)).toString)
    put("num_lectures", rnd.nextInt(90).toString)
    opt("num_videos", rnd.nextInt(90).toString)
    opt("mobile_native_deeplink", q(s"udemy://$id"))
    put("is_practice_test_course", rnd.nextBoolean().toString)
    put("num_quizzes", rnd.nextInt(12).toString)
    put("num_practice_tests", rnd.nextInt(3).toString)
    put("has_closed_caption", rnd.nextBoolean().toString)
    opt("last_update_date", q(f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"))
    put("xapi_activity_id", q(s"xapi-$id"))
    put("is_custom", rnd.nextBoolean().toString)
    put("is_imported", rnd.nextBoolean().toString)
    opt("headline", q(s"Learn ${title.toLowerCase}"))
    put("level", q(pick(Levels)))
    put("locale", s"""{"locale": ${q(pick(Locales))}}""")
    // categories: a title maps to one url, so each bridge row joins once
    if (rnd.nextInt(10) > 0) {
      val (t, u) = pick(Categories); put("primary_category", s"""{"title": ${q(t)}, "url": ${q(u)}}""")
      relationRows("course_categories") += 1; categoriesSeen += t
    }
    if (rnd.nextInt(10) > 0) {
      val (t, u) = pick(Subcategories); put("primary_subcategory", s"""{"title": ${q(t)}, "url": ${q(u)}}""")
      relationRows("course_subcategories") += 1; subcategoriesSeen += t
    }
    def list(rel: String, max: Int)(item: Int => String): String = {
      val n = rnd.nextInt(max + 1)
      relationRows(rel) += n
      arr((0 until n).map(item))
    }
    put("topics", list("topics", 3) { i =>
      val t = (id * 7 + i) % 40
      s"""{"id": $t, "title": ${q(s"Topic $t")}, "url": ${q(s"/t/$t/")}}""" })
    put("promo_video_url", list("promo_videos", 2) { i =>
      s"""{"type": "video/mp4", "label": ${q((480 + 240 * i).toString)}, "file": ${q(s"p$id-$i.mp4")}}""" })
    put("instructors", list("instructors", 3)(_ => q(pick(Instructors))))
    rnd.nextInt(4) match { // the two requirements guard cases, empty, filled
      case 0 => ()
      case 1 => put("requirements", """{"list": null}""")
      case _ => put("requirements", s"""{"list": ${list("requirements", 3)(i => q(s"Skill $i"))}}""")
    }
    put("what_you_will_learn", s"""{"list": ${list("what_you_will_learn", 3)(i => q(s"Outcome $i"))}}""")
    val nImages = rnd.nextInt(3)
    relationRows("images") += nImages
    put("images", Seq("480x270", "100x100", "750x422").take(nImages)
      .map(k => s"${q(k)}: ${q(s"$id-$k.jpg")}").mkString("{", ", ", "}"))
    put("caption_languages", list("caption_languages", 3)(_ => q(pick(Languages))))
    put("caption_locales", list("caption_locales", 2) { _ =>
      val l = pick(Locales); s"""{"locale": ${q(l)}, "title": ${q(l)}, "english_title": ${q(l)}}""" })
    f.mkString("{", ", ", "}")
  }
  private val categoriesSeen = mutable.Set[String]()
  private val subcategoriesSeen = mutable.Set[String]()

  private def activityRecord(u: Long, c: Long, version: Int): String = {
    val name = s"user$u-v$version"
    val ratio = rnd.nextInt(101) / 100.0
    activity((u, c)) = (name, ratio)
    val f = mutable.ArrayBuffer(
      s""""user_id": $u""", s""""course_id": $c""", s""""user_name": ${q(name)}""",
      s""""completion_ratio": $ratio""")
    def ts = f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00Z"
    if (rnd.nextBoolean()) f += s""""user_surname": ${q(s"S$u")}"""
    if (rnd.nextBoolean()) f += s""""user_email": ${q(s"u$u@example.com")}"""
    f += s""""user_role": ${q(pick(Seq("user", "admin", "group_admin")))}"""
    if (rnd.nextInt(3) == 0) f += """"user_external_id": null"""
    f += s""""course_title": ${q(s"Course $c")}"""
    if (rnd.nextBoolean()) f += s""""course_category": ${q(pick(Categories)._1)}"""
    f += s""""course_duration": ${rnd.nextInt(900) / 10.0}"""
    f += s""""num_video_consumed_minutes": ${rnd.nextInt(5000) / 10.0}"""
    f += s""""course_enroll_date": ${q(ts)}"""
    if (rnd.nextBoolean()) f += s""""course_start_date": ${q(ts)}"""
    rnd.nextInt(3) match {
      case 0 => f += """"course_completion_date": null"""
      case 1 => f += s""""course_completion_date": ${q(ts)}"""
      case _ => ()
    }
    if (rnd.nextBoolean()) f += s""""course_first_completion_date": ${q(ts)}"""
    f += s""""course_last_accessed_date": ${q(ts)}"""
    f += s""""last_activity_date": ${q(f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d")}"""
    f += s""""is_assigned": ${rnd.nextBoolean()}"""
    if (rnd.nextBoolean()) f += s""""assigned_by": ${q(s"admin${rnd.nextInt(5)}")}"""
    f += s""""user_is_deactivated": ${rnd.nextInt(20) == 0}"""
    if (rnd.nextBoolean()) f += s""""lms_user_id": ${q(s"lms-$u")}"""
    f.mkString("{", ", ", "}")
  }

  private def chain(prefix: String, pages: Seq[Seq[String]]): Map[String, Pagination.Page] =
    pages.indices.map { i =>
      s"$prefix?page=$i" -> Pagination.Page(pages(i),
        if (i + 1 < pages.size) Some(s"$prefix?page=${i + 1}") else None)
    }.toMap

  val coursePages: Map[String, Pagination.Page] = chain("courses",
    (1L to sizes.courses).map { id =>
      val t = s"${pick(Words)} ${pick(Words)} $id"; courseTitle(id) = t; course(id, t)
    }.grouped(sizes.coursePage).toSeq)
  /** Rows of each catalog relation after the full load. */
  val catalogRows: Map[String, Long] = relationRows.toMap ++ Map(
    "courses" -> sizes.courses.toLong,
    "categories" -> categoriesSeen.size.toLong,
    "subcategories" -> subcategoriesSeen.size.toLong)

  private val users = math.max(1, sizes.activity / 8)
  val activityPages: Map[String, Pagination.Page] = chain("activity",
    rnd.shuffle((1L to users).flatMap(u => (1L to sizes.courses).map(c => (u, c))))
      .take(sizes.activity).map { case (u, c) => activityRecord(u, c, 0) }
      .grouped(sizes.activityPage).toSeq)
  val fullLoadKeys: Int = activity.size

  /** Course and activity bodies of each refresh page, in page order. */
  val refreshCourses = mutable.ArrayBuffer[Seq[String]]()
  val refreshActivity = mutable.ArrayBuffer[Seq[String]]()
  val refreshPages: Map[String, Pagination.Page] = chain("refresh",
    (0 until sizes.refreshPages).map { r =>
      val half = sizes.refreshCourses / 2
      val updated = rnd.shuffle((1L to sizes.courses).toList).take(half)
        .map(id => course(id, courseTitle(id) + " (revised)"))
      val added = (1 to sizes.refreshCourses - half).map { j =>
        val id = sizes.courses + r * sizes.refreshCourses + j
        val t = s"${pick(Words)} new $id"; courseTitle(id) = t; course(id, t)
      }
      val actHalf = sizes.refreshActivity / 2
      val upd = rnd.shuffle(activity.keys.toList).take(actHalf)
        .map { case (u, c) => activityRecord(u, c, r + 1) }
      val fresh = (1 to sizes.refreshActivity - actHalf).map { j =>
        activityRecord(users + 1 + r, j.toLong, r + 1) }
      refreshCourses += (updated ++ added); refreshActivity += (upd ++ fresh)
      rnd.shuffle(updated ++ added ++ upd ++ fresh)
    })

  val sourceRecords: Long = (coursePages.values ++ activityPages.values ++ refreshPages.values)
    .map(_.results.size.toLong).sum

  /** A seeded share of fetch attempts fails with a retryable error the
    * given policy accepts; the retry of that page succeeds.
    */
  def failureFor(url: String, attempt: Int, catalog: Boolean): Option[Pagination.Failure] = {
    val h = new Random(seed * 31 + cycle * 17 + url.hashCode * 7 + attempt).nextInt(100)
    if (attempt >= 2 || h >= FailPercent) None
    else if (catalog) Some(if (h % 2 == 0) Pagination.Failure.Http(524) else Pagination.Failure.MalformedBody)
    else Some(h % 3 match {
      case 0 => Pagination.Failure.Http(429)
      case 1 => Pagination.Failure.Http(524)
      case _ => Pagination.Failure.MalformedBody
    })
  }
}

object EtlSource {
  /** Source sizes of one refresh cycle. */
  final case class Sizes(courses: Int, coursePage: Int, activity: Int,
                         activityPage: Int, refreshPages: Int,
                         refreshCourses: Int, refreshActivity: Int) {
    def toMap: Map[String, Int] = Map("courses" -> courses, "course_page" -> coursePage,
      "activity" -> activity, "activity_page" -> activityPage,
      "refresh_pages" -> refreshPages, "refresh_courses_per_page" -> refreshCourses,
      "refresh_activity_per_page" -> refreshActivity)
  }
  val FailPercent = 8
  val Levels = Seq("Beginner", "Intermediate", "Expert", "All Levels")
  val Locales = Seq("en_US", "en_GB", "fr_FR", "de_DE", "es_ES", "pt_BR")
  val Languages = Seq("English", "German", "French", "Spanish", "Italian")
  val Instructors = Seq("alice", "bob", "carol", "dave", "erin", "frank", "grace")
  val Words = Seq("Spark", "SQL", "Python", "Data", "Cloud", "Design", "Stream", "Graph")
  val Categories = Seq("Development" -> "/dev/", "IT Operations" -> "/it/",
    "Business" -> "/biz/", "Design" -> "/design/", "Marketing" -> "/mkt/")
  val Subcategories = Seq("Data Science" -> "/data/", "Databases" -> "/db/",
    "Programming" -> "/prog/", "Web" -> "/web/", "Security" -> "/sec/",
    "Networking" -> "/net/", "Analytics" -> "/ana/")
}

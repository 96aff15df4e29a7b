package graft

/** The IOS sample corpus under `src/test/resources/ios/`: hand-written
  * stand-ins laid out like the reference toolbox's `tests/test_files/`
  * (`ctd_profile/`, `ctd_mooring/`, `bot/`, `current_meter/`,
  * `ios_polygons.geojson`). Its README lists what each file plants.
  */
object IosFixtures {
  /** Absolute directory of the corpus on the test classpath. */
  val base: String =
    java.nio.file.Paths.get(getClass.getResource("/ios").toURI).toString
}

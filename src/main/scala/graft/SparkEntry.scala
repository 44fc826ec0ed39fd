package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Each `queries` entry is one operator from SURVEY.md §2 re-expressed
 * Spark-first over the driver's parquet tables; `oracleSql` carries the
 * equivalent ANSI SQL the driver runs in DuckDB over the same tables.
 * Column names/aliases are kept identical on both sides (the driver
 * hashes values after sorting columns by name).
 */
object SparkEntry {

  /** q25's CSV fixture dirs, keyed by source dir (see q25_csv_source). */
  private val csvFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q56's JSONL fixture dirs, keyed by source dir (see q56_json_source). */
  private val jsonFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q67's ORC fixture dirs, keyed by source dir (see q67_orc_source). */
  private val orcFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q69's nested-metadata parquet fixture dirs, keyed by source dir. */
  private val exifFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q62's lake-with-changelog fixture roots, keyed by source dir. */
  private val lakeFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q70's rebucketed-lake fixture roots, keyed by source dir. */
  private val rebucketFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q78/q79's mid-stream schema-evolution lake fixture roots, keyed by
    * source dir (batch 0 under the base schema, batch 1 evolved). */
  private val evoFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q81's Debezium envelope JSONL fixture dirs, keyed by source dir. */
  private val envelopeFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q45's built+compacted LSH index roots, keyed by source dir. */
  private val lshIndexFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q77's persisted IVF+PQ index roots, keyed by source dir — built
    * once so repeated calls (and the bench's timed pass) measure the
    * PROBE path, not the one-time index build. */
  private val annIdxFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q86's churned ANN index roots (build + tombstoned deletes), keyed
    * by source dir. */
  private val annDelFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q80's streamed-replay fixture roots (log + table + checkpoint),
    * keyed by source dir. */
  private val streamFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q87's IVM fixture roots (feed-enabled replay + maintained agg),
    * keyed by source dir. */
  private val ivmFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q88/q89's event-time streaming fixture roots (ts-ranged segments +
    * sentinel batches, sessionize + windowed-count sinks), keyed by
    * source dir. */
  private val sessFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q90's mirror-table roots (a second replay consuming the q87
    * table's change feed), keyed by source dir. */
  private val mirrorFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q91's DSv2 keyed-sink store roots, keyed by source dir. */
  private val keyedSinkFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q93's pre-image-feed table roots (two-batch replay with
    * `preimages = true`), keyed by source dir. */
  private val preimgFixtures = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q92's frozen IVF centroids: the output of
    * `Similarity.kmeansCentroids(embeddings@sf0.01, cells = 8, dim = 64,
    * iters = 3)` pinned as literals (the q85 frozen-merges / q75
    * fixed-books discipline): the index SERVES under the exact model it
    * was trained with, training itself stays offline, and the query is
    * value-exact at every SF because the constants are data-independent
    * at query time. Doubles round-trip bit-exactly through both the
    * Scala literal and the SQL literal (shortest-repr decimal). */
  private val FrozenIvfCentroids: Array[Array[Double]] = Array(
    Array(0.1406014912643214, -0.12128266563582357, 0.07096292427035082, 0.011245767740943557, -0.038959240243698304, 0.1364050066281335, -0.16526172834331238, 0.09103265908871122, -0.00941112773583295, -0.08130927858534047, -0.011123959256526799, 0.047558262790611386, -0.014011768546962894, 0.2389172765721836, 0.11171916788565132, -0.08165916798638669, -0.09600208055685382, -0.21584448850807061, 0.03163249637563643, -0.2265356994184629, -0.23602144396840266, 0.001375998238636011, 0.17182282930064208, 0.024551995288048186, 0.06590531929462747, -0.07882475019929973, 0.17527905387195228, -0.0516024503516722, 0.06920071290298024, 0.07116912342331261, 0.1063735989000613, 0.08193589935757063, 0.039198772616647184, -0.10712676920550288, 0.17989574130977187, -0.1787217846890008, 0.006383858671621501, -0.10473480067977645, -0.3123958013329832, 0.07720644789765027, 0.013682448003764294, 0.008881151419801715, -0.16398536506857653, 0.015168146817587613, 0.06071394380368237, 0.0846304926748211, 0.06631064249696515, 0.00809515846885861, -0.36639525301602544, -0.016349689116430165, -0.0016584918075857736, -0.1124506752450619, 0.1100895600061069, 0.06044501692820657, -0.20722672058361555, -0.02953403523990581, -0.110664758633718, -0.06046427288023413, -0.20347458162830606, 0.015447722818048354, 0.005328792966778145, 0.1964514837007394, -0.06634959203629363, 0.10699474923137453),
    Array(-0.01523587779445009, -0.04001139129405761, 0.1682854307546646, -0.08564012573011547, -0.005757200529067945, -0.2621042017182197, 0.19272845557846227, 0.08885389919895637, -0.027824352156639642, -0.13822493183625703, -0.12579353512929942, -0.13574757036758023, 0.05075284457394713, 0.18472842970453612, 0.10239394069890573, 0.1185821713467733, -0.00910546232798237, 0.02019930908034304, -0.21471448206437813, 0.02578810455344744, 0.008335526459757117, 0.16458392429131652, 0.07225231663884234, 0.10938484576314675, 0.08644090093790481, 0.3032812676667559, -0.089038214996988, -0.05775291632086113, 0.00973979676895237, 0.07674327090924814, 0.16756289973111957, -0.020193809070739255, -0.005726688571027894, 0.05417902317558186, -0.0779722611504751, 0.10437250367756298, 0.04670955179950664, -0.10363281786215855, 0.03745899398007201, 0.012170277203387387, 0.11586280945552992, -0.1380021814473037, -0.19701250472567802, -0.1224573864467743, -0.18400360701032287, 0.16360930949426464, 0.051022279568227843, 0.23470871935806573, 0.03557157401770607, -0.08169249383699796, 0.058487494984490615, -0.02074073264479194, -0.03463375690395572, 0.15289627293066138, 0.16346919020197773, -0.23388771197209102, 0.10985778111276755, -0.14241954035110646, 0.15547014647262367, 0.13871934341385453, -0.1790972055859168, -0.07885232816338571, 0.09888820838693052, -0.1262438811537618),
    Array(-0.07940984213056022, 0.03312468822719907, -0.2671681739520024, -0.01119305754748668, 0.09722979556012733, 0.1591473790508532, -0.06788369844562771, -0.14811110437364336, -0.12802126961784305, -0.05781179334440521, 0.1316970533069104, 0.060402304935781595, -0.17211375620934452, 0.20691001010565313, -0.030705894158959877, -0.17187566933677392, 0.1380097017837838, 0.09457167522903868, 0.173615649349277, -0.025189987722856914, -0.19416858228277642, -0.1710863636376767, 0.05729862379943983, 0.11247355235603898, 0.08282293705002144, -0.05806475290032221, -0.08960897064390853, 0.18983895825209215, -0.21733619491809011, -0.12828494989967226, 0.005531770631672477, 0.017008028857880542, 0.047765791500011055, -0.29105804127232654, 0.03392347526192964, -0.02781631769329259, -0.10689511868036712, 0.12450896150655844, 0.018154650774375468, 0.0946363714015956, -0.05948788278803263, 0.0562860419416045, -0.08442360959517974, -0.13329239647386956, 0.08717536586183687, -0.16772885537222273, -0.04653179256885592, -0.036563500494946805, 0.1714024081587881, -0.23369868734922214, -0.05126316495843531, -0.16024752383189056, 0.07641510339973097, -0.004177922660550789, 0.042005725178971054, -0.03602194891259534, 0.00204926985659464, 0.0395173393465734, -0.11128125890776776, -0.15055344685718103, 0.2688621106156455, -0.005483062593712956, 0.17244969294443174, 0.016606280498985413),
    Array(0.1541781578910381, -0.0033810105764326285, 0.06897408339962387, -0.22940924632663456, -0.07618917253442227, -0.020568874595768446, -0.022513445330623456, 0.17001389220246527, 0.12411053514223745, 0.14660228262380773, 0.08693045250087542, -0.04559346320635371, 0.29256545536771766, -0.007425890865380915, 0.18752833260682072, 0.009788844699376013, -0.06187366027004088, -0.0805435771275041, -0.1505799048599731, 0.14480109718829207, 0.011116320160306925, -0.15256876877087586, -0.010397809879007671, -0.20518753092383762, 0.20987495262598896, 0.07965739684962833, 0.017996597230153105, 0.30216704393426713, -0.15520128274420336, 0.014473046039502401, -0.02777842048445837, -0.15089027384922793, 0.11348159829691619, 0.0028619515693985168, 0.01189622849136011, 0.17973442299265677, -0.031177855755099192, -0.08154025277780892, 0.21532992913929455, -0.17962720077507272, -0.031705572784626546, -0.011723807140976322, 0.12245690563884756, 0.020369581699963547, -0.06372061708056656, -0.06400891867102763, -0.1370226030775917, -0.0798350974820202, 0.04396084524535596, 0.11525997723415694, 0.04340636225604765, -0.010538027609142192, -0.049444435467145345, -0.015455309249925171, 0.034684038107943314, 0.029828735237935163, 0.03639441989292004, -0.1665849985382194, -0.25674864171930134, -0.15743257128491706, 0.20186686254075734, -0.062264855066839375, 0.05189164664198934, -0.18917689399948287),
    Array(-0.12129739810488652, -0.022993208148860026, 0.03806660094711978, 0.21970012604507913, -0.15019488784883583, 0.0870082227604939, 0.021253148769699616, 0.06164286441935119, -0.03547011338922673, 0.041940813266521916, 0.2487023415849964, 0.1880529128377652, -0.16531299634370178, -0.1134586080635413, -0.15868777629810824, 0.00991515115438054, -0.0028539822546682953, 0.0047192572594426056, -0.013858305037349122, 0.12686164192878657, -0.0257412970958996, 0.031197954720262842, -0.0630702641757666, 0.24201676118654283, -0.18981696458155373, 0.18665224909838066, -0.08132407548903632, 0.01160191362622837, 0.21936353243328902, 0.12089647460058991, -0.0023662542583959777, 0.07569468451446724, -0.025345277140578066, -0.17162479788397084, -0.15046265664822556, 0.10460320724361052, -0.055522359664693655, -0.21145772722261758, -0.07513404541498199, 0.238431858256671, 0.03894386920899655, 0.09661649347485007, 0.06381863915029815, 0.15837529180211232, -0.3043025159018781, -0.08446001180977228, 0.20481195897179508, -0.08074574858789092, 0.06067628151542815, 0.1169688486227091, 0.1847902431262564, -0.04688341550666325, 0.20036829283986912, -0.004295392151012528, -0.028217005572489542, 0.061987338734851245, -0.04848664251918545, -0.015194288630728926, -0.06277272382902811, -0.0830347135743462, -0.0655640107075149, -0.14394712432315812, -0.09586905250964711, -0.005876611568729854),
    Array(0.029586305126381274, 0.09534024993485979, 0.1249452016696261, -0.031964877792950895, 0.043531496110153285, -0.02227506886213905, 0.02354826493315651, -0.16892838361546986, -0.10962037355863873, -0.22924189790324545, 0.10582642443211576, -0.028974498604293557, -0.11094279950103637, -0.28509830773825917, 0.08537667489003131, 0.1302582843307903, -0.06892224371880971, 0.19065747413360776, -0.08055179433931159, -0.1938789582564917, 0.1762091072478093, 0.1768752290799277, 0.16855460387466079, -0.19426573411829642, -0.07640850382993873, -0.06529519586355127, -0.05426212481809335, -0.23342813211677776, 0.04148199370292408, 0.0932445547932222, -0.06724863998516062, 0.007454264226286515, -0.0498401946493305, 0.04902299291063795, -0.1783704893053487, -0.0740528156372962, 0.07040111753080149, 0.21194137687655296, 0.04851939322205732, -0.042535738969955564, 0.09567843160511562, -0.04630510847633462, 0.17479895748869118, 0.11236848810047537, -0.01965161819833113, 0.19827616754292593, -0.06539930609370104, 0.13198041162489593, -0.07113659909562478, -0.23158783900514127, -0.008334186375001457, 0.2284690524905597, -0.08601984161713022, -0.11674924034238793, 0.1722718476348726, 0.16411946569162522, 0.08718045172691381, -0.0591389898527956, -0.08935059203990679, -0.004619909120669093, -0.0910378982054752, 0.12387182095891643, -0.06273503065850468, -0.06245271818231158),
    Array(-0.034836462082916984, 0.17780357499615884, -0.03538513520804829, 0.11491666594968353, 0.24608104929602512, 0.06796350768564545, -0.25141628616704986, 0.20075513827764957, 0.011886216143863548, 0.1561376281549268, -0.25084796268389564, 0.09788403201747349, 0.015843128600605345, -0.03416478210770372, -0.16057043056713963, 0.13869047046911614, 0.15566437288433035, 0.019914814517196035, 0.10278976036467345, -0.14585994201626262, 0.05686330586269831, -0.11106547022353426, -0.030579305329009494, -0.3116003378678153, -0.2157670238003249, -0.05502972985779521, -0.12450472332242636, 0.15243375522468114, -0.031895385313130485, -0.0918048808942574, 0.06669254668000166, -0.10184791541127927, 0.020824055245267283, 0.13923799091961483, 0.14083823264531292, 0.07524023286289465, -0.03888207559710297, 0.04274304161299548, -0.004963526746636064, 0.0097533289593545, 0.0020309578134237293, -0.0649669378656881, 0.18841899480218327, -0.1335910378943663, -0.11387613009202904, -0.15425108400619097, -0.056289109227844504, -0.0573097751704032, -0.17217643699673793, -0.14846778603868294, 0.005003541023168749, 0.14750030779702986, -0.057676984374797804, 0.03191959148041569, 0.10794704622812759, -0.12672428066145544, -0.0798123442378509, 0.1629617364264304, 0.07597174214046817, -0.01679232871594105, -0.22354044196570066, -0.10102084391773399, 0.05776200785127123, 0.018108957592744248),
    Array(0.004830464073166109, -0.24447606384849258, -0.013022434869114042, -0.11454883353432013, 0.1628849007403065, 0.08270567691670933, -0.24729769035762098, -0.0473378415891033, 0.04806843034239198, 0.03788359113548368, 0.024946888097794506, -0.07811413594150816, -0.032127325649294894, -0.08271151179956451, -0.09366179550734378, 0.023249653751496843, 0.017237216434692258, 0.13111099496921383, 0.11052174070058368, 0.21754183512349523, 0.04752005372037047, 0.16940712255919566, -0.1407854354758423, 0.0062823774236313015, -0.013464248104254013, 0.06763222954081483, 0.18702237798308438, -0.06641089642949533, 0.05018761884884881, -0.09550935486193687, -0.04426137401211555, -0.04172560557970828, 0.09008102002884608, 0.07641618503064934, 0.16335169136872132, -0.18409086118018336, -0.03173961303852273, 0.07990293700208588, -0.02443403260473351, -0.18566100768324045, -0.17249101169770978, -0.2416324285706999, -0.1298370455458318, 0.06458094408983368, 0.1690817510652447, 0.1903526629642727, -0.01089720674707027, 0.10509545319481049, 0.10337917870445906, 0.08486074483440725, 0.04667292085952691, -0.0640827269870936, 0.08357374369937545, -0.19003578787868977, -0.12507214713001208, 0.05326823226365471, 0.13665587390985953, 0.12054049047885097, 0.2810144073867585, 0.015470065860498254, 0.04283223717805876, 0.2536004386880625, -0.17894428976917845, -0.12918747977113748))

  /** q85's fixed BPE merge rules + base alphabet — the output of
    * `TextAnalysis.bpeTrain(documents@sf0.01, 8)` frozen as literals
    * (the PQ fixed-books discipline: the encoder runs under the exact
    * vocabulary its model was trained with; chars outside the alphabet
    * take the OOV arm, so the query is value-exact at every SF). */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")
  private val BpeAlphabet: Seq[String] = "abcdefghijklmnopqrstuvwy".map(_.toString)

  /** Flagship: the CDC engine end-to-end at test scale — generate a
    * deterministic change log to disk, STREAM-replay it (Structured
    * Streaming, multi-batch, checkpointed) into a LakeTable with
    * mid-stream schema evolution, return the final doc-store state.
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.gen.ChangeLogGen
    import graft.model.GenConfig
    import graft.stream.Replay
    val dir = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val cfg = GenConfig(nEvents = 5000, nDocs = 800, nShards = 4,
      avgTokens = 8, evolveAtLsn = 3000, nSegments = 4)
    ChangeLogGen.write(spark, cfg, s"$dir/log")
    val table = Replay.replay(spark, s"$dir/log", s"$dir/table", s"$dir/cp",
      nBuckets = 8, maxFilesPerTrigger = 8)
    table.read()
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** q53's split mix (ppm, sums to 1e6) — shared by query and oracle. */
  private val SplitSpec = Seq("train" -> 960000, "val" -> 20000, "test" -> 20000)

  /** q80/q87's derived change log: the events table rendered as
    * canonical change rows (error → D, else U; lang only past the lsn
    * midpoint — the evolution trigger) and materialized under `d/log`
    * as four lsn-ranged segment files, written oldest-first so the
    * streaming file source admits them in log order. */
  private def writeDerivedLog(s: SparkSession, dir: String, d: String): Unit = {
    val ev = t(s, dir, "events")
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val mid = (lo + hi) / 2
    val isD = col("event_type") === "error"
    val log = ev.select(
      pmod(col("user_id"), lit(4)).cast("int").as("shard"),
      col("event_id").as("lsn"),
      when(isD, "D").otherwise("U").as("op"),
      format_string("u%06d", col("user_id")).as("doc_id"),
      when(isD, lit(null))
        .otherwise(array(pmod(col("event_id"), lit(1000)).cast("int"))).as("tokens"),
      when(isD, lit(null))
        .otherwise(pmod(col("event_id"), lit(7)) + 1).cast("long").as("n_tok"),
      when(isD, lit(null)).otherwise(col("event_type")).as("source"),
      when(isD || col("event_id") <= mid, lit(null))
        .otherwise(concat(lit("l_"), col("event_type"))).as("lang"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), s.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(s"$d/log")
    fs.mkdirs(logDir)
    val step = (hi - lo + 4) / 4
    (0 until 4).foreach { i =>
      val l = lo + i * step
      val tmp = new org.apache.hadoop.fs.Path(s"$d/log/.tmp-$i")
      log.filter(col("lsn") >= l && col("lsn") < l + step)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
      fs.rename(part, new org.apache.hadoop.fs.Path(logDir, f"seg-$i%05d.parquet"))
      fs.delete(tmp, true)
    }
  }

  /** q88/q89's shared fixture: the events table as a checkpointed
    * file-source STREAM (four ts-ranged segments, one per micro-batch,
    * so the watermark only advances and nothing is late) plus two
    * far-future sentinel batches — the first pushes the watermark past
    * every real event + gap, the second is the batch where the
    * timeouts/finalizations EMIT (append mode surfaces results one
    * batch after the watermark passes them). Runs BOTH §2.8 streaming
    * operators to parquet sinks: gap sessions (`sessions/`) and
    * watermarked tumbling window counts (`windows/`). */
  private def sessionStreamFixture(s: SparkSession, dir: String): String =
    sessFixtures.getOrElseUpdate(dir, {
      val d = java.nio.file.Files.createTempDirectory("graft-sess-q").toString
      val ev = t(s, dir, "events").select(
        col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      val b = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (lo, hi) = (b.getTimestamp(0), b.getTimestamp(1))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(d), s.sparkContext.hadoopConfiguration)
      val logDir = new org.apache.hadoop.fs.Path(s"$d/log")
      fs.mkdirs(logDir)
      def writeSeg(i: Int, df: DataFrame): Unit = {
        val tmp = new org.apache.hadoop.fs.Path(s"$d/log/.tmp-$i")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.startsWith("part-")).head
        fs.rename(part, new org.apache.hadoop.fs.Path(logDir, f"seg-$i%05d.parquet"))
        fs.delete(tmp, true)
      }
      val step = (hi.getTime - lo.getTime) / 4 + 1
      (0 until 4).foreach { i =>
        val l = new java.sql.Timestamp(lo.getTime + i * step)
        val r = new java.sql.Timestamp(lo.getTime + (i + 1) * step)
        writeSeg(i, ev.filter(col("ts") >= lit(l) && col("ts") < lit(r)))
      }
      locally {
        import s.implicits._
        (0 until 2).foreach { i =>
          val sentinelTs = new java.sql.Timestamp(hi.getTime + (i + 1) * 86400000L)
          writeSeg(4 + i,
            Seq((-1L, sentinelTs, -1L - i, "zz_sentinel", 0.0))
              .toDF("user_id", "ts", "event_id", "event_type", "value"))
        }
      }
      val schema = s.read.parquet(s"$d/log").schema
      def stream() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$d/log")
      def run(out: org.apache.spark.sql.Dataset[_], name: String): Unit =
        out.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$d/cp-$name")
          .outputMode("append").format("parquet")
          .option("path", s"$d/$name").start().awaitTermination()
      locally {
        implicit val sp: SparkSession = s
        import s.implicits._
        run(graft.stream.Windows.sessionize(
          stream().as[graft.stream.Windows.SessionEvent],
          watermarkDelay = "1 minutes", gapMs = 1800 * 1000L), "sessions")
      }
      run(graft.stream.Windows.windowedCounts(
        stream(), watermarkDelay = "1 minutes", windowLen = "1 hour"), "windows")
      d
    })

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.2 scan + §4.1/4.2 pushdown & pruning (reader column/where lists)
    "q01_scan_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .limit(1000)),

    // §2.8 aggregation (TPC-H q1-shaped; map-side partial agg)
    "q02_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))),

    // §2.8 join: small dim broadcast (orders x customer)
    "q03_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),

    // §2.8 large shuffle join lineitem x orders
    "q04_join_shuffle" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // CDC last-wins per key (the engine's canonicalize step, §7.2) over
    // the events stream: latest event per user by (ts, event_id)
    "q05_cdc_lastwins" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"))
    }),

    // §2.1 RangeSplitUtil analog: contiguous range partitioning of a key
    // domain + per-range counts (the JDBC pk-split planner as a query)
    "q06_range_split" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val bounds = l.agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val k = 8L
      val width = (hi - lo + k) / k // ceil
      l.select(least(floor((col("l_orderkey") - lo) / width).cast("long"), lit(k - 1)).as("range_id"))
        .groupBy(col("range_id")).agg(count(lit(1)).as("n_rows"))
    }),

    // §2.4 dx_substr + dx_pad + dx_replace transformer chain
    "q07_transform_chain" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          substring(col("text"), 1, 20).as("sub20"),
          lpad(col("lang"), 5, "_").as("lang_pad"),
          concat(substring(col("text"), 1, 3), lit("***"),
            substring(col("text"), 10, 2147483000).as("rest")).as("spliced"))
        .orderBy(col("doc_id"))),

    // §2.4 dx_filter transformer (predicate drop semantics)
    "q08_filter_transform" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(!(col("event_type") === "error") && col("value") >= 1.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))),

    // §2.6 dirty-record routing: try_cast split of a messy projection
    // (props is a JSON string; k is numeric-or-garbage)
    "q09_dirty_split" -> ((s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").as("k_raw"))
        .select(expr("try_cast(k_raw AS int)").as("k"))
        .groupBy(col("k").isNull.as("is_dirty"))
        .agg(count(lit(1)).as("n"))),

    // §2.1 time x metric split (tsdbreader): hourly windows per type
    "q10_time_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))),

    // exact dedup (training-data op): documents by content hash — the
    // md5 key (not raw text) is what ships through the shuffle
    "q11_dedup_exact" -> ((s, dir) =>
      graft.operators.Dedup.exactGroups(t(s, dir, "documents"))
        .select(col("keep_id"), col("dup_count"))),

    // token counting (training-data op): whitespace tokenization
    "q12_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
          length(col("text")).as("n_chars_calc"))),

    // quality scoring (training-data op): stopword/length ratios
    "q13_quality_score" -> ((s, dir) => {
      val words = split(trim(col("text")), "\\s+")
      val stop = array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(words).as("n_words"),
          size(filter(words, w => array_contains(stop, w))).as("n_stop"))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_words"), 6))
    }),

    // MinHash+LSH near-dup detection: shingle -> minhash -> band ->
    // bucket-join -> exact-Jaccard verify (graft.operators.Dedup)
    "q14_dedup_minhash" -> ((s, dir) =>
      graft.operators.Dedup.minhashLshPairs(
        t(s, dir, "documents"), n = 3, k = 12, bands = 4, threshold = 0.5)),

    // near-dup cluster resolution: the pairs fold into connected
    // components (hash-min label propagation) and every doc maps to its
    // component's canonical keep-id — the step a real dedup pipeline
    // runs after pair generation (transitive closure)
    "q36_dedup_clusters" -> ((s, dir) =>
      graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.minhashLshPairs(
          t(s, dir, "documents"), n = 3, k = 12, bands = 4, threshold = 0.5))),

    // SimHash document signatures (64-bit; 4 coins per md5 nibble) —
    // native codegen'd expression when GraftExtensions is installed,
    // portable HOF otherwise (value-identical, q18 pattern)
    "q15_dedup_simhash" -> ((s, dir) => {
      val sig =
        if (graft.operators.Dedup.nativeOk(s, "graft_simhash64"))
          call_function("graft_simhash64", col("text"))
        else graft.operators.Dedup.simhash64(col("text"))
      t(s, dir, "documents").select(col("doc_id"), sig.as("simhash"))
    }),

    // n-gram Jaccard similarity: broadcast anchors vs corpus
    "q16_ngram_jaccard" -> ((s, dir) =>
      graft.operators.Dedup.anchorJaccard(
        t(s, dir, "documents"), col("doc_id") % 50 === 0, n = 2, threshold = 0.05)),

    // language ID by n-gram/stopword heuristic
    "q17_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.operators.TextAnalysis.langId(col("text")).as("predicted"))
        .withColumn("is_match", col("predicted") === col("lang"))),

    // rolling-hash document fingerprint (order-sensitive content hash):
    // the native codegen'd Catalyst expression when the GraftExtensions
    // session hook is installed (Verify/Bench install it), the portable
    // HOF formulation otherwise — value-identical either way
    "q18_fingerprint" -> ((s, dir) => {
      val fp =
        if (graft.operators.Dedup.nativeOk(s, "graft_rolling_hash"))
          graft.operators.TextAnalysis.fingerprintNative(col("text"))
        else graft.operators.TextAnalysis.fingerprint(col("text"))
      t(s, dir, "documents").select(col("doc_id"), fp.as("fp"))
    }),

    // token statistics incl. BPE-ish regex tokenization
    "q19_token_stats" -> ((s, dir) =>
      graft.operators.TextAnalysis.tokenStats(t(s, dir, "documents"))),

    // full quality-score panel (punct/stopword/word-length ratios)
    "q20_quality_panel" -> ((s, dir) =>
      graft.operators.TextAnalysis.qualityScores(t(s, dir, "documents"))),

    // exact cosine top-k over embeddings: broadcast anchors, windowed rank
    "q21_ann_brute" -> ((s, dir) =>
      graft.operators.Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5)),

    // LSH-bucketed approximate top-k: 4 independent 8-bit tables with
    // Hamming<=2 multi-probe (recall measured by q33)
    "q22_ann_lsh" -> ((s, dir) =>
      graft.operators.Similarity.lshTopK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5, bits = 8, dim = 64,
        probe = 2, tables = 4)),

    // embedding-cosine near-dup pairs: 2 independent 8-bit LSH tables
    // (OR-amplification), exact-cosine verify
    "q23_embed_neardup" -> ((s, dir) =>
      graft.operators.Similarity.nearDupPairs(
        t(s, dir, "embeddings"), threshold = 0.35, bits = 8, dim = 64, tables = 2)),

    // multimodal binary-column plumbing: stub decode metadata
    "q24_multimodal_decode" -> ((s, dir) =>
      graft.operators.Multimodal.decodedMetadata(t(s, dir, "documents"))),

    // §2.2 unstructured-storage (CSV) source round-trip: parquet -> CSV
    // files -> typed CSV read -> aggregate (int-only: textually exact).
    // The CSV fixture is memoized per source dir so repeat invocations
    // (bench warmup -> timed run) time the READ path, not fixture setup.
    "q25_csv_source" -> ((s, dir) => {
      val tmp = csvFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-csv").toString
        t(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
          .write.mode("overwrite").option("header", "true").csv(d)
        d
      })
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING")
        .csv(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
          min(col("event_id")).as("min_ev"), max(col("event_id")).as("max_ev"))
    }),

    // §2.1 multi-table / sharded-table split analog: unionByName of
    // per-table scans, one aggregate over the union
    "q26_multitable_union" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"), lit("customer").as("src"))
      val p = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"), lit("supplier").as("src"))
      c.unionByName(p).groupBy(col("nationkey"), col("src")).agg(count(lit(1)).as("n"))
    }),

    // §2.8 set operations: users who clicked AND purchased
    "q27_set_ops" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
    }),

    // sessionization: event-time gaps > 30 min split sessions (lag window)
    "q28_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800).cast("int"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("new_session")).as("n_sessions"))
    }),

    // §1.4 graph model (gdbwriter analog): project customer->order edges,
    // aggregate out-degree + edge weight per vertex
    "q29_graph_edges" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(concat(lit("customer_"), col("o_custkey").cast("string")).as("src"),
          concat(lit("order_"), col("o_orderkey").cast("string")).as("dst"),
          lit("placed").as("label"), col("o_totalprice"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("out_degree"), round(sum(col("o_totalprice")), 2).as("total_weight"))
    }),

    // §2.1 quantile split (Oracle SAMPLE analog, exact): distributed
    // two-stage ntile — no global single-partition window
    "q30_quantile_split" -> ((s, dir) =>
      graft.operators.Split.exactNtile(t(s, dir, "orders"), col("o_orderkey"), 8)
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_rows"), min(col("k")).as("lo"),
          max(col("k")).as("hi"))),

    // §2.1 string-range split (RangeSplitUtil radix-128): WHERE-range
    // planning over a string primary key
    "q31_string_range_split" -> ((s, dir) =>
      graft.operators.Split.stringRangeSplit(t(s, dir, "part"), col("p_name"), 8)),

    // measured recall@k of the LSH ANN path vs the exact baseline — the
    // number that justifies the approximation at scale
    "q33_ann_recall" -> ((s, dir) =>
      graft.operators.Similarity.recallAtK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5, bits = 8, dim = 64,
        probe = 2, tables = 4)),

    // SimHash banded near-dup pairs: lossless band join for hamming<=3
    "q34_simhash_pairs" -> ((s, dir) =>
      graft.operators.Dedup.simhashNearDup(
        t(s, dir, "documents"), bands = 4, maxHamming = 3)),

    // IVF ANN: disjoint spherical cells + nProbe-best-cell search — the
    // second approximate family next to the LSH path
    "q35_ann_ivf" -> ((s, dir) =>
      graft.operators.Similarity.ivfTopK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5, cells = 16, dim = 64,
        nProbe = 4)),

    // §2.4 ComplexTransformer SPI analog: a pluggable multi-record
    // (mapPartitions) transformer loaded reflectively by class name
    // through the job-spec machinery
    "q37_custom_transform" -> ((s, dir) => {
      val spec = graft.model.TransformerSpec("custom", "",
        Map("class" -> "graft.functions.NormalizeTextTransformer"))
      spec(t(s, dir, "documents"))
        .select(col("doc_id"), col("norm_text"), col("n_words"))
    }),

    // IVF with LEARNED centroids: deterministic sampled spherical
    // k-means (scaled-integer sums — see Similarity.kmeansCentroids)
    // feeds the same disjoint-cell plan; iterative + data-dependent
    // floats = not SQL-expressible, so no oracleSql entry (driver
    // records the rows-only check; determinism and the probe-all-cells
    // == exact invariant are spec-tested)
    "q39_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = graft.operators.Similarity.kmeansCentroids(emb, cells = 16, dim = 64, iters = 3)
      graft.operators.Similarity.ivfTopKWith(emb, col("vec_id") % 100 === 0, k = 5, cent, nProbe = 4)
    }),

    // q39's learned-k-means IVF, made FULLY oracle-checkable: the same
    // ivfTopKWith plan under centroids trained once and FROZEN as
    // literals ([[FrozenIvfCentroids]]) — the production serving shape
    // (models are trained offline and pinned; the index never retrains
    // per query), and the DuckDB oracle recomputes cell assignment +
    // probes + rerank from the identical constants, closing the one
    // rows-only gap q39's in-query training left open
    "q92_ann_ivf_frozen" -> ((s, dir) =>
      graft.operators.Similarity.ivfTopKWith(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5,
        FrozenIvfCentroids, nProbe = 2)),

    // the PRE-IMAGE machinery end-to-end through the driver gate: a
    // two-batch replay with writer.preimages on, exported as FULL
    // Debezium envelopes ([[graft.sources.CdcEnvelope.exportEnvelopes]])
    // — updates and deletes must carry the exact replaced row as
    // `before` (the batch-0 last-wins winner), inserts carry none, and
    // the oracle recomputes every image from the raw events alone
    "q93_preimage_export" -> ((s, dir) => {
      val root = preimgFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-preimg-q").toString
        val ev = t(s, dir, "events")
        val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
        val mid = (b.getLong(0) + b.getLong(1)) / 2
        def changes(insertAll: Boolean) = ev.select(
          format_string("u%06d", col("user_id")).as("doc_id"),
          (if (insertAll) lit("I")
           else when(col("event_type") === "error", "D").otherwise("U")).as("op"),
          col("event_id").as("lsn"),
          array(pmod(col("event_id"), lit(1000)).cast("int")).as("tokens"),
          (pmod(col("event_id"), lit(7)) + 1).cast("int").as("n_tok"),
          col("event_type").as("source"),
          lit(null).cast("string").as("lang"),
          pmod(col("user_id"), lit(4)).cast("int").as("shard"))
        val table = graft.stream.Replay.createTable(s, s"$d/t", nBuckets = 8)
        graft.apply.BatchApply.apply(table, changes(insertAll = true).filter(col("lsn") <= mid),
          batchId = 0, changelog = true, preimages = true)
        graft.apply.BatchApply.apply(table, changes(insertAll = false).filter(col("lsn") > mid),
          batchId = 1, changelog = true, preimages = true)
        d
      })
      val table = graft.lake.LakeTable.load(s, s"$root/t")
      graft.sources.CdcEnvelope.exportEnvelopes(table, sinceBatchId = -1L)
        .select(from_json(col("value"), graft.sources.CdcEnvelope.envelopeSchema).as("e"))
        .select(col("e.payload.op").as("op"),
          col("e.payload.source.lsn").as("lsn"),
          coalesce(col("e.payload.before.doc_id"), col("e.payload.after.doc_id")).as("doc_id"),
          col("e.payload.before.n_tok").as("b_ntok"),
          col("e.payload.before.source").as("b_src"),
          col("e.payload.after.n_tok").as("a_ntok"),
          col("e.payload.after.source").as("a_src"))
    }),

    // dedup-on-ingest: near-dups of each INCOMING doc among the
    // EXISTING corpus — band-join is incoming×existing only, so
    // per-batch cost scales with the batch, not the corpus (the
    // existing band table is a precomputed LSH index at scale)
    "q40_incremental_neardup" -> ((s, dir) =>
      graft.operators.Dedup.incrementalNearDup(
        t(s, dir, "documents"), col("doc_id") % 5 === 0,
        n = 3, k = 12, bands = 4, threshold = 0.5)),

    // greedy contiguous sequence packing ("sample packing"): documents
    // binned into fixed-token-budget training sequences, window
    // PARTITIONED by source (no global window)
    "q41_sequence_pack" -> ((s, dir) =>
      graft.operators.TextAnalysis.packSequences(t(s, dir, "documents"), seqLen = 512)),

    // corpus vocabulary: exact top-k tokens by frequency
    // (partial-agg combine + TakeOrderedAndProject — no global sort)
    "q42_vocab_topk" -> ((s, dir) =>
      graft.operators.TextAnalysis.vocabTopK(t(s, dir, "documents"), k = 50)),

    // deterministic stratified corpus mixing (hash-threshold Bernoulli —
    // shuffle-free, reproducible subsets, loss weights attached)
    "q43_corpus_mix" -> ((s, dir) =>
      graft.operators.TextAnalysis.mixSample(t(s, dir, "documents"),
        rates = Map("src0" -> 500000, "src1" -> 50000), defaultPpm = 200000)),

    // test-set decontamination: training docs sharing any word n-gram
    // with the held-out eval slice (tiny eval gram set -> equi-join probe)
    "q44_decontaminate" -> ((s, dir) =>
      graft.operators.Dedup.decontaminate(t(s, dir, "documents"),
        col("doc_id") % 97 === 0, n = 3)),

    // dedup-on-ingest against a PERSISTED LSH index (build once from the
    // existing corpus, probe the batch against it — the production form
    // of q40; value-equal to the single-frame variant when no bucket cap
    // engages, which is what the shared oracle asserts)
    "q45_lsh_index_probe" -> ((s, dir) => {
      // fixture = build + compact (memoized, bench-warmed like q77): the
      // SERVING shape is a probe against the compacted partitioned base
      // (band/gram stores DPP-prune to the probe's buckets) — the build
      // is a one-time cost the timed number must not re-measure per run
      val docs = t(s, dir, "documents")
      val path = lshIndexFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
        graft.operators.LshIndex.build(docs.filter(col("doc_id") % 5 =!= 0), d,
          n = 3, k = 12, bands = 4)
        graft.operators.LshIndex.compact(s, d)
        d
      })
      graft.operators.LshIndex.probe(docs.filter(col("doc_id") % 5 === 0), path,
        threshold = 0.5, maxBucketSize = Int.MaxValue)
    }),

    // §1.4 cell-level (multi-version) CDC rendering
    // (MultiVerModeRecordSender analog): each row change explodes into
    // per-cell U rows; 'error' events demo the DR (row delete) path
    "q38_cell_changes" -> ((s, dir) =>
      graft.operators.CellChanges.render(
        t(s, dir, "events"),
        pk = col("user_id"), version = col("event_id"),
        deletePred = col("event_type") === "error",
        cells = Seq(
          "event_type" -> col("event_type"),
          // fixed-point e4 rendering: floor(v*1e4 + 0.5) is pure IEEE
          // double arithmetic — bit-identical across engines, unlike
          // printf (Java HALF_UP vs C round-half-even)
          "value_e4" -> floor(col("value") * 10000 + 0.5).cast("long"),
          "props" -> col("props")))),

    // PII scrub: the corpus is synthetic-clean, so deterministic PII
    // (email + IPv4 + phone-shaped digit run, derived from doc_id) is
    // appended per doc, then detected + redacted with typed
    // placeholders — one codegen-fused projection, no shuffle
    "q46_pii_redact" -> ((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10."), pmod(col("doc_id"), lit(250)).cast("string"),
          lit(".0."), pmod(col("doc_id"), lit(200)).cast("string"),
          lit(" call "), (col("doc_id") + lit(7000000000L)).cast("string")).as("text"))
      graft.operators.TextAnalysis.piiRedact(seeded)
    }),

    // intra-document repetition (Gopher-style quality signals):
    // duplicate-word and duplicate-bigram fractions, per-row arrays only
    "q47_repetition" -> ((s, dir) =>
      graft.operators.TextAnalysis.repetitionStats(t(s, dir, "documents"))),

    // multimodal frame-index fan-out: one row per video frame with
    // millisecond timestamp + byte offset — an explode generator inside
    // the scan task (no shuffle, no driver fan-out)
    "q48_frame_index" -> ((s, dir) =>
      graft.operators.Multimodal.frameIndex(
        graft.operators.Multimodal.decodedMetadata(t(s, dir, "documents")))),

    // exact duplicated-span detection (the "exact substring dedup" pass):
    // positional word 5-grams shared by >= 2 distinct docs mark
    // duplicated spans; per-doc duplicated fraction drives filtering or
    // span excision
    "q51_dup_spans" -> ((s, dir) =>
      graft.operators.Dedup.dupSpans(t(s, dir, "documents"), n = 5, minDf = 2)),

    // fixed-context-window chunking (complement of q41 packing): long
    // docs split into overlapping 64-word windows every 48 words, one
    // generator in the scan task
    "q52_chunk_sequences" -> ((s, dir) =>
      graft.operators.TextAnalysis.chunkSequences(
        t(s, dir, "documents"), chunkLen = 64, stride = 48)),

    // deterministic train/val/test assignment: hash-draw split labels,
    // disjoint + exhaustive + re-shard/corpus-growth stable, zero shuffles
    "q53_split_assign" -> ((s, dir) =>
      graft.operators.TextAnalysis.splitAssign(
        t(s, dir, "documents"), SplitSpec)),

    // per-vector symmetric int8 quantization (4x smaller embeddings =
    // 4x less shuffle weight for every downstream ANN join), with
    // element-exact codes + per-vector max reconstruction error
    "q54_quantize_int8" -> ((s, dir) =>
      graft.operators.Similarity.quantizeInt8(t(s, dir, "embeddings"))),

    // measured recall@5 of exact search over int8-reconstructed vectors
    // vs the float baseline — the fidelity number that justifies
    // shipping quantized embeddings (as q33 justifies LSH)
    "q55_quant_recall" -> ((s, dir) =>
      graft.operators.Similarity.quantRecallAtK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5)),

    // as-of join (SURVEY §2.8 — absent in DataX, and a plan stock Spark
    // gets wrong): each click gets the latest preceding purchase value
    // of the same user — union + ONE keyed window, no per-probe scan.
    // The right side is pre-aggregated to one row per (user, ts) so the
    // as-of value is unambiguous in both engines.
    "q49_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("last_purchase"))
      graft.operators.Joins.asofJoin(clicks, purchases,
          key = "user_id", ts = "ts", payload = Seq("last_purchase"))
        .select(col("event_id"), col("user_id"), col("last_purchase"))
    }),

    // range join (point-in-interval) via bin decomposition: clicks
    // falling inside each purchase's value-seconds validity window —
    // equi-join on a 10-minute bin id + exact verify, never
    // points × intervals (stock Spark would pick a
    // BroadcastNestedLoopJoin for the inequality-only predicate)
    "q50_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), unix_micros(col("ts").cast("timestamp")).as("p_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), unix_micros(col("ts").cast("timestamp")).as("s_us"),
          (unix_micros(col("ts").cast("timestamp")) +
            floor(col("value") * 1000000L).cast("long")).as("e_us"))
      graft.operators.Joins.rangeJoinBinned(clicks, purchases,
          pointCol = "p_us", startCol = "s_us", endCol = "e_us",
          binWidth = 600000000L)
        .select(col("click_id"), col("purchase_id"))
    }),

    // §2.4 dx_expr (dx_groovy analog): arbitrary SQL expression applied
    // through the TransformerSpec machinery itself
    "q32_expr_transform" -> ((s, dir) => {
      val spec = graft.model.TransformerSpec("dx_expr", "tagged",
        Map("expr" -> "upper(substring(text, 1, 8)) || '_' || lang"))
      spec(t(s, dir, "documents"))
        .select(col("doc_id"), col("tagged"))
        .orderBy(col("doc_id"))
    }),

    // §2.2 hdfsreader format family: JSON-lines source round-trip
    // (parquet -> JSONL -> schema-on-read scan -> aggregate). The
    // explicit read schema matters at scale: inference would scan the
    // corpus twice. Fixture memoized per source dir like q25, so the
    // bench times the READ path.
    "q56_json_source" -> ((s, dir) => {
      val tmp = jsonFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-json").toString
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(d)
        d
      })
      s.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .json(tmp)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }),

    // SemDeDup-style semantic dedup: disjoint spherical cells, drop any
    // vector with a lower-id cosine-neighbor >= 0.3 in its cell, keep
    // first-seen — the embedding-space complement of q11/q14 lexical
    // dedup (catches paraphrases sharing no n-grams)
    "q57_semantic_dedup" -> ((s, dir) =>
      graft.operators.Similarity.semanticDedup(
        t(s, dir, "embeddings"), threshold = 0.3, cells = 16, dim = 64)),

    // per-doc top-5 salient terms by tf-idf (raw-ratio idf — every step
    // an exactly-rounded IEEE op, so cross-engine bit-exact): keyword
    // extraction / topic tagging over the corpus
    "q58_tfidf_topk" -> ((s, dir) =>
      graft.operators.TextAnalysis.tfidfTopK(t(s, dir, "documents"), k = 5)),

    // C4-style paragraph-level keep-first dedup: every 16-word
    // paragraph kept only at its first (doc_id, pos) occurrence
    // corpus-wide, docs rewritten from the survivors — the edit
    // operation dupSpans only scores
    "q59_paragraph_dedup" -> ((s, dir) =>
      graft.operators.Dedup.paragraphDedup(t(s, dir, "documents"), paraLen = 16)),

    // CCNet-style unigram-LM quality scoring, integer-exact: per-term
    // surprisal = bit width of the inverse corpus frequency; per-doc
    // sums are integers (order-independent — no cross-engine ln/sum
    // exposure)
    "q60_unigram_surprisal" -> ((s, dir) =>
      graft.operators.TextAnalysis.unigramSurprisal(t(s, dir, "documents"))),

    // deterministic global shuffle into 8 ordered training shards:
    // hash-draw range bins + per-shard rank = one reproducible global
    // permutation (what orderBy(rand()) loses), one keyed exchange
    "q61_shuffle_shards" -> ((s, dir) =>
      graft.operators.TextAnalysis.shuffleShards(t(s, dir, "documents"), nShards = 8)),

    // the LakeTable as a CDC SOURCE (Delta-CDF / Iceberg
    // incremental-read analog; §2.2 otsstreamreader composability):
    // apply two change batches derived from `events` into a real
    // LakeTable with the change feed on, then incrementally read batch
    // 1's canonical changes back via readChanges — the one oracle query
    // that exercises the actual lake+merge engine end-to-end
    "q62_lake_changelog" -> ((s, dir) => {
      val root = lakeFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-lake-cdc").toString
        val ev = t(s, dir, "events")
        val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
        val mid = (b.getLong(0) + b.getLong(1)) / 2
        val changes = ev.select(
          col("user_id").as("doc_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_id").as("lsn"),
          array(pmod(col("event_id"), lit(1000)).cast("int")).as("tokens"),
          (pmod(col("event_id"), lit(7)) + 1).cast("int").as("n_tok"),
          col("event_type").as("source"),
          lit(null).cast("string").as("lang"),
          pmod(col("user_id"), lit(4)).cast("int").as("shard"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("tokens",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType, containsNull = false)),
          org.apache.spark.sql.types.StructField("n_tok",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType)))
        val table = graft.lake.LakeTable.create(s, d, schema, nBuckets = 8)
        graft.apply.BatchApply.apply(table, changes.filter(col("lsn") <= mid),
          batchId = 0, changelog = true)
        graft.apply.BatchApply.apply(table, changes.filter(col("lsn") > mid),
          batchId = 1, changelog = true)
        d
      })
      graft.lake.LakeTable.load(s, root).readChanges(sinceBatchId = 0)
        .select(col("doc_id"), col("op"), col("lsn"),
          concat_ws(",", col("tokens")).as("tokens_csv"), col("n_tok"),
          col("source"), col("batch_id").cast("long").as("batch_id"))
    }),

    // TIME TRAVEL on the same lake fixture: read the table AS OF the
    // snapshot that applied batch 0 — snapshot isolation means batch
    // 1's changes are invisible there; the oracle recomputes batch 0's
    // last-wins state (tombstones filtered) from the raw events
    "q63_time_travel" -> ((s, dir) => {
      // invoking q62's lambda builds the memoized fixture eagerly (the
      // applies are actions inside getOrElseUpdate); result discarded
      val _ = queries("q62_lake_changelog")(s, dir)
      val table = graft.lake.LakeTable.load(s, lakeFixtures(dir))
      val v0 = table.listVersions.find(v => table.snapshotAt(v).batchId == 0)
        .getOrElse(sys.error("no snapshot with batchId=0"))
      table.read(Some(table.snapshotAt(v0)))
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"))
    }),

    // C4/Gopher-style composite quality filter: per-rule explainable
    // booleans + conjunction keep, one codegen-fused projection (the
    // first gate of every training pipeline, at scan speed)
    "q64_quality_filter" -> ((s, dir) =>
      graft.operators.TextAnalysis.qualityFilter(t(s, dir, "documents"))),

    // audio segmentation (the ASR/captioning sharding step): each audio
    // asset fans out to 30 s windows every 25 s (overlap), trailing
    // window clipped, exact sample counts — one generator, no shuffle
    "q65_audio_segments" -> ((s, dir) =>
      graft.operators.Multimodal.audioSegments(
        graft.operators.Multimodal.audioMetadata(t(s, dir, "documents")),
        segMs = 30000L, strideMs = 25000L)),

    // ViT-style image patch grid: each image asset fans out to its
    // 256x256 tile index (edge tiles clipped; tiles exactly cover the
    // image — spec-asserted) — one generator, no shuffle
    "q66_image_patches" -> ((s, dir) =>
      graft.operators.Multimodal.imagePatches(
        graft.operators.Multimodal.decodedMetadata(t(s, dir, "documents")),
        patch = 256)),

    // §2.2 hdfsreader format family: ORC source round-trip (parquet ->
    // ORC files -> typed ORC read -> filtered aggregate) — completes
    // the TEXT/CSV/JSON/ORC coverage of the reference's HdfsFileType
    // family (`hdfsreader/.../HdfsFileType.java:8`; SEQ/RC are legacy
    // formats Spark's columnar sources supersede). ORC is columnar with
    // predicate pushdown like parquet, so the filter reaches the scan;
    // int-only columns keep the oracle textually exact. Fixture
    // memoized per source dir like q25/q56 so the bench times the READ
    // path, not fixture setup.
    "q67_orc_source" -> ((s, dir) => {
      val tmp = orcFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-orc").toString
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_returnflag"))
          .write.mode("overwrite").orc(d)
        d
      })
      s.read.schema("l_orderkey LONG, l_partkey LONG, l_linenumber INT, l_returnflag STRING")
        .orc(tmp)
        .filter(col("l_linenumber") > 3)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_partkey")).as("sum_part"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
    }),

    // per-key ordered change history (the reference's multi-version
    // "all versions of a row" surface) via the SALTED two-phase plan —
    // results are exactly the unsalted/oracle ordering, the salt only
    // changes the physical aggregation (spec-asserted equal; q68 runs
    // salted so the driver's oracle validates the salted path itself)
    "q68_change_history" -> ((s, dir) =>
      graft.operators.ChangeHistory.historyCsv(
        t(s, dir, "events"), col("user_id"), col("event_id"), col("event_type"),
        saltBuckets = 8)
        .select(col("key").as("user_id"), col("n_changes").cast("long").as("n_changes"),
          col("history")))
,

    // EXIF-ish typed nested metadata, round-tripped through parquet and
    // read back selecting TWO LEAVES of the struct — nested-schema
    // pruning means the scan reads only those column chunks
    // (spec-asserted on ReadSchema); the aggregate is over the pruned
    // read so the oracle validates the pruned path's values. Fixture
    // memoized per source dir like q67.
    "q69_exif_prune" -> ((s, dir) => {
      val tmp = exifFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-exif").toString
        graft.operators.Multimodal.exifMetadata(t(s, dir, "documents"))
          .write.mode("overwrite").parquet(d)
        d
      })
      s.read.parquet(tmp)
        .select(col("meta.capture.device").as("device"),
          col("meta.capture.orientation").as("orientation"),
          col("meta.pixels.width").as("width"))
        .groupBy(col("device"), col("orientation"))
        .agg(count(lit(1)).as("n"), sum(col("width")).as("sum_w"))
    }),

    // BUCKET-COUNT RESCALE: apply a change batch into an 8-bucket lake
    // table, rebucket to 32 (a divisible rescale — the SHUFFLE-FREE
    // per-file re-tag path, since pmod(h,8) == pmod(pmod(h,32),8)), and
    // read the final state back. The oracle recomputes last-wins state
    // from the raw events, so the driver row proves the rescale moved
    // every row to a layout that still resolves identically. The
    // no-Exchange property itself is spec-asserted (RobustnessSpec).
    "q70_rebucket" -> ((s, dir) => {
      val root = rebucketFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-rebucket-q").toString
        val changes = t(s, dir, "events").select(
          col("user_id").as("doc_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_id").as("lsn"),
          array(pmod(col("event_id"), lit(1000)).cast("int")).as("tokens"),
          (pmod(col("event_id"), lit(7)) + 1).cast("int").as("n_tok"),
          col("event_type").as("source"),
          lit(null).cast("string").as("lang"),
          pmod(col("user_id"), lit(4)).cast("int").as("shard"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("tokens",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType, containsNull = false)),
          org.apache.spark.sql.types.StructField("n_tok",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType)))
        val table = graft.lake.LakeTable.create(s, d, schema, nBuckets = 8)
        graft.apply.BatchApply.apply(table, changes, batchId = 0)
        table.rebucket(32)
        d
      })
      graft.lake.LakeTable.load(s, root).read()
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"))
    }),

    // POINT LOOKUP: fetch a deterministic key subset (user_id % 97 == 0)
    // from the q70 lake fixture via readKeys — the manifest prunes the
    // scan to the keys' buckets and the typed IN filter pushes into the
    // parquet scan (row-group skipping inside each bucket). At 10^10
    // rows this is "read k buckets", never "scan the table". The
    // no-other-buckets property is spec-asserted on df.inputFiles
    // (RobustnessSpec); this row proves the pruned read returns exactly
    // the oracle's last-wins state for those keys.
    "q71_point_lookup" -> ((s, dir) => {
      val root = rebucketFixtures.getOrElseUpdate(dir, {
        // same fixture as q70 (either query may run first)
        val d = java.nio.file.Files.createTempDirectory("graft-rebucket-q").toString
        val changes = t(s, dir, "events").select(
          col("user_id").as("doc_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_id").as("lsn"),
          array(pmod(col("event_id"), lit(1000)).cast("int")).as("tokens"),
          (pmod(col("event_id"), lit(7)) + 1).cast("int").as("n_tok"),
          col("event_type").as("source"),
          lit(null).cast("string").as("lang"),
          pmod(col("user_id"), lit(4)).cast("int").as("shard"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("tokens",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType, containsNull = false)),
          org.apache.spark.sql.types.StructField("n_tok",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType)))
        val table = graft.lake.LakeTable.create(s, d, schema, nBuckets = 8)
        graft.apply.BatchApply.apply(table, changes, batchId = 0)
        table.rebucket(32)
        d
      })
      // the lookup key set: bounded by construction (a point lookup's
      // contract), derived from the source table so the oracle can
      // mirror it as a plain predicate
      val keys = t(s, dir, "events")
        .select(col("user_id")).where(pmod(col("user_id"), lit(97)) === 0)
        .distinct().collect().map(_.getLong(0)).toSeq
      graft.lake.LakeTable.load(s, root).readKeys(keys)
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"))
    }),

    // CHUNKED change history: q68's merged render holds each key's full
    // version list in one task (fine for normal keys; the bench's
    // skew_hist rungs show the salted MERGED form does not beat it —
    // sort saved, second shuffle paid). historyChunks is the 10^10-scale
    // packaging: per-salt contiguous sorted chunks as ROWS, one exchange,
    // per-task state bounded by hotKeySize/saltBuckets. The oracle
    // recomputes the integer-exact chunk assignment with DuckDB `//`.
    "q72_history_chunks" -> ((s, dir) =>
      graft.operators.ChangeHistory.historyChunks(
        t(s, dir, "events"), col("user_id"), col("event_id"), col("event_type"),
        saltBuckets = 8)
        .select(col("key").as("user_id"), col("chunk_idx"),
          col("n_in_chunk"),
          concat_ws(",", transform(col("chunk"),
            x => concat(x.getField("seq"), lit(":"), x.getField("p")))).as("chunk_csv"))),

    // Product quantization: the memory story of 10^10-vector ANN —
    // each 64-dim float vector encodes to m=8 subspace-centroid ids
    // (+ its norm), value-exact vs the oracle's argmin recomputation
    "q73_pq_encode" -> ((s, dir) =>
      graft.operators.Similarity.pqEncode(
        t(s, dir, "embeddings"), m = 16, ksub = 16, dim = 64)
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes_csv"),
          (floor(col("nrm") * lit(1e9) + lit(0.5)) / lit(1e9)).as("nrm_r"))),

    // measured recall@5 of the RAW PQ/ADC ranking vs the exact float
    // baseline — the honest lower bound that motivates q75's rerank
    // (as q33 gates LSH and q55 gates int8)
    "q74_pq_recall" -> ((s, dir) =>
      graft.operators.Similarity.pqRecallAtK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5,
        m = 16, ksub = 16, dim = 64)),

    // the production PQ shape: ADC ranks a 50-deep shortlist over the
    // 16-byte codes, exact cosine re-ranks only those 50 floats/anchor
    "q75_pq_rerank_recall" -> ((s, dir) =>
      graft.operators.Similarity.pqRerankRecallAtK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5,
        shortlist = 50, m = 16, ksub = 16, dim = 64)),

    // the composed billion-scale index (IVF cells bound work, PQ codes
    // bound bytes, rerank buys recall back): measured recall@5 of the
    // full stack vs the exact float baseline
    "q76_ivfpq_recall" -> ((s, dir) =>
      graft.operators.Similarity.ivfPqRecallAtK(
        t(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5,
        shortlist = 50, cells = 16, nProbe = 4, m = 16, ksub = 16, dim = 64)),

    // the PERSISTED form of q76: build the two-store IVF+PQ index
    // (cell-partitioned postings, vb-bucketed floats), then probe it —
    // the oracle checks the served top-k rows value-for-value, so the
    // on-disk round-trip (codes, norms, partition pruning) is gated,
    // not just the in-memory math
    "q77_ann_index_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = annIdxFixtures.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft-annidx").toString
        graft.operators.AnnIndex.build(e, p, cells = 16, m = 16, ksub = 16, dim = 64)
        p
      })
      graft.operators.AnnIndex.probe(e.filter(col("vec_id") % 100 === 0), path,
        k = 5, shortlist = 50, nProbe = 4)
    }),

    // ANN INDEX UNDER CHURN: the delete half of index maintenance —
    // vectors leave as tombstone markers (LSM discipline) that the
    // probe prunes with a static pushed filter (never an extra join on
    // the DPP-fragile postings plan) until compact reclaims them; the
    // served top-k must be value-identical to an index that never held
    // the deleted vectors, which is exactly what the oracle computes
    // (corpus restricted to the live ids)
    "q86_ann_index_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = annDelFixtures.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft-anndel").toString
        graft.operators.AnnIndex.build(e, p, cells = 16, m = 16, ksub = 16, dim = 64)
        graft.operators.AnnIndex.delete(
          e.filter(col("vec_id") % 7 === 3).select(col("vec_id")), p)
        p
      })
      graft.operators.AnnIndex.probe(
        e.filter(col("vec_id") % 100 === 0 && col("vec_id") % 7 =!= 3), path,
        k = 5, shortlist = 50, nProbe = 4)
    }),

    // INCREMENTAL VIEW MAINTENANCE (the CDC-CONSUMER half of the change
    // feed — q62 produces it, this query maintains a downstream grouped
    // aggregate from it): the q80 change log replays with the feed
    // enabled, STOPPED after two micro-batches to initialize the view
    // (one full aggregate), then resumed for the remaining two; the
    // second [[graft.lake.Ivm.sync]] advances the view INCREMENTALLY —
    // it reads only feed batches 2-3 and the changed keys' buckets at
    // the two pinned snapshots, never re-aggregating the table. The
    // served rows must equal DuckDB's aggregate over a global last-wins
    // of the same derived events, so init + delta merge + delete /
    // group-extinction handling are value-exact end-to-end.
    "q87_incremental_agg" -> ((s, dir) => {
      val root = ivmFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-ivm-q").toString
        writeDerivedLog(s, dir, d)
        graft.stream.Replay.replay(s, s"$d/log", s"$d/table", s"$d/cp",
          nBuckets = 8, maxFilesPerTrigger = 1, changelog = true,
          stopAfterBatches = 2)
        graft.lake.Ivm.sync(
          graft.lake.LakeTable.load(s, s"$d/table"), s"$d/agg")
        graft.stream.Replay.replay(s, s"$d/log", s"$d/table", s"$d/cp",
          nBuckets = 8, maxFilesPerTrigger = 1, changelog = true)
        graft.lake.Ivm.sync(
          graft.lake.LakeTable.load(s, s"$d/table"), s"$d/agg")
        d
      })
      graft.lake.Ivm.readAgg(s, s"$root/agg")
    }),

    // EVENT-TIME STREAMING, oracle-checked: until now the §2.8 streaming
    // window operators ([[graft.stream.Windows]]) were spec-tested
    // against hand-built MemoryStream feeds; q88/q89 run them over the
    // REAL events table through a checkpointed file-source stream.
    // Fixture: events split into four ts-RANGED segments (so the
    // watermark only ever advances — no event is late) processed one
    // file per micro-batch, then two far-future SENTINEL batches
    // (user_id = -1): the first pushes the watermark past every real
    // event + gap, the second gives Spark the batch in which the
    // resulting timeouts/finalizations actually EMIT (append-mode
    // semantics: results surface one batch after the watermark passes
    // them). q88 = gap-based sessions via flatMapGroupsWithState +
    // event-time timeout; the oracle is DuckDB's islands query (same
    // 1800 s gap as q28), so the stateful merge logic — in-batch gaps,
    // cross-batch session continuation, timeout closure — is
    // value-exact per SESSION (q28 checks only per-user counts).
    "q88_stream_sessions" -> ((s, dir) => {
      val root = sessionStreamFixture(s, dir)
      s.read.parquet(s"$root/sessions").filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
    }),

    // q89 = watermarked tumbling event-time window counts (the state
    // the watermark bounds at 100 TB); oracle = date_trunc group-by.
    // Counts only: a float sum's addition order is not cross-engine
    // stable, and the window/watermark machinery is what q89 gates.
    "q89_stream_windows" -> ((s, dir) => {
      val root = sessionStreamFixture(s, dir)
      s.read.parquet(s"$root/windows")
        .filter(col("event_type") =!= "zz_sentinel")
        .select(col("win_start"), col("event_type"), col("n"))
    }),

    // CDC REPLICATION closed at the driver level (feed OUT → replay IN,
    // the reader.table chaining §2.3/§2.2-7 spec-tests promoted to an
    // oracle row): a SECOND replay tails the q87 table's change feed —
    // given the table root, Replay reads it through the snapshot-driven
    // tail source, one upstream batch's committed feed set after
    // another — into a mirror table, through the same canonicalize →
    // MERGE → commit path, including the mid-stream lang evolution the
    // feed rows carry. The mirror's final state must equal DuckDB's
    // global last-wins over the ORIGINAL derived events (q80's oracle):
    // source table == mirror == oracle, i.e. the feed loses nothing and
    // the chained apply is idempotent-exact.
    "q90_feed_mirror" -> ((s, dir) => {
      val _ = queries("q87_incremental_agg")(s, dir) // ensures the feed fixture
      val root = ivmFixtures(dir)
      val mroot = mirrorFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-mirror-q").toString
        graft.stream.Replay.replay(s, s"$root/table", s"$d/mirror", s"$d/cp", nBuckets = 4)
        d
      })
      graft.lake.LakeTable.load(s, s"$mroot/mirror").read()
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"), col("lang"))
    }),

    // DSv2 KEYED SINK (§2.3-10/11's demonstrated write-side extension
    // point — the ES bulk-by-id / OTS PutRow-DeleteRow shape): change
    // rows derived from the events table write through the REAL DSv2
    // batch-write protocol (per-task staged files → task commit
    // messages → atomic publish rename → version-CAS manifest) into
    // the bucket-sharded store; reading the store back must serve
    // exactly DuckDB's last-wins over the same events with tombstoned
    // keys gone — upsert-by-id and delete-by-id, value-exact through
    // a store the engine does not control.
    "q91_keyed_sink" -> ((s, dir) => {
      val root = keyedSinkFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-ksink-q").toString
        val isD = col("event_type") === "error"
        t(s, dir, "events").select(
            format_string("u%06d", col("user_id")).as("doc_id"),
            col("event_id").as("lsn"),
            when(isD, "D").otherwise("U").as("op"),
            when(isD, lit(null))
              .otherwise(pmod(col("event_id"), lit(7)) + 1).cast("long").as("n_tok"),
            when(isD, lit(null)).otherwise(col("event_type")).as("source"))
          .write.format("graft-keyed-sink")
          .option("path", s"$d/store").option("buckets", 8)
          .mode("append").save()
        d
      })
      s.read.format("graft-keyed-sink")
        .option("path", s"$root/store").option("buckets", 8).load()
        .select(col("doc_id"), col("lsn"), col("n_tok"), col("source"))
    }),

    // MID-STREAM SCHEMA EVOLUTION through the real engine — the north
    // rule's additive path (new nullable column + int32->int64 widening)
    // as an oracle-checked replay, not just a spec: batch 0 applies
    // under the base schema (no lang, n_tok INT); batch 1 carries lang
    // values, so [[graft.apply.BatchApply]] detects it and advances the
    // table via [[graft.lake.LakeTable.evolveSchema]] (a METADATA-ONLY
    // commit — zero data rewritten). Batch 1 updates only 1-in-5 keys
    // under a permissive deltaThreshold, so every touched bucket takes a
    // MERGE-ON-READ delta: the final table holds schema-0 BASE files
    // under schema-1 delta overlays, and the read itself must align
    // them by schema-id (missing lang -> null, n_tok INT -> BIGINT
    // cast) before last-wins resolution. The result must equal a global
    // last-wins over both batches with lang present only where a
    // post-evolution event won.
    "q78_schema_evolution" -> ((s, dir) => {
      val root = evoFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-evolve-q").toString
        val ev = t(s, dir, "events")
        val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
        val mid = (b.getLong(0) + b.getLong(1)) / 2
        def changes(withLang: Boolean) = ev.select(
          col("user_id").as("doc_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_id").as("lsn"),
          array(pmod(col("event_id"), lit(1000)).cast("int")).as("tokens"),
          (pmod(col("event_id"), lit(7)) + 1).cast("int").as("n_tok"),
          col("event_type").as("source"),
          (if (withLang) concat(lit("l_"), col("event_type"))
           else lit(null).cast("string")).as("lang"),
          pmod(col("user_id"), lit(4)).cast("int").as("shard"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("tokens",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType, containsNull = false)),
          org.apache.spark.sql.types.StructField("n_tok",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType)))
        val table = graft.lake.LakeTable.create(s, d, schema, nBuckets = 8)
        graft.apply.BatchApply.apply(table,
          changes(withLang = false).filter(col("lsn") <= mid), batchId = 0)
        graft.apply.BatchApply.apply(table,
          changes(withLang = true)
            .filter(col("lsn") > mid && pmod(col("doc_id"), lit(5)) === 0),
          batchId = 1, deltaThreshold = 0.5)
        d
      })
      // n_tok deliberately NOT re-cast here: the driver's schema check
      // verifies the table itself serves BIGINT after the widening
      graft.lake.LakeTable.load(s, root).read()
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"), col("lang"))
    }),

    // PER-PARTITION LINEAGE (north rule: "source offset range ->
    // snapshot-id"): every data commit records, per source shard, the
    // applied lsn range and raw-event count. This query serves the
    // lineage of the q78 replay back as rows and the oracle recomputes
    // it from the raw events — the audit trail a resumable ingest owes
    // its operators, checked value-exact. distinct: the evolve commit is
    // metadata-only and carries its parent's lineage forward.
    "q79_lineage" -> ((s, dir) => {
      val _ = queries("q78_schema_evolution")(s, dir)
      val table = graft.lake.LakeTable.load(s, evoFixtures(dir))
      val entries = table.listVersions.flatMap(v => table.snapshotAt(v).lineage).distinct
      s.createDataFrame(entries)
        .select(col("batchId").as("batch_id"), col("shard"),
          col("minLsn").as("min_lsn"), col("maxLsn").as("max_lsn"),
          col("rows").as("n_rows"))
    }),

    // THE STREAMING PATH, oracle-checked end-to-end: q78 drives
    // [[graft.apply.BatchApply]] directly; this derives a change log
    // from the events table, materializes it as four lsn-ranged segment
    // files, and replays them through the REAL engine —
    // [[graft.stream.Replay.replay]]: Structured Streaming file source,
    // maxFilesPerTrigger=1 (four checkpointed micro-batches), batch-id
    // fence, mid-stream additive evolution when the first post-mid
    // segment carries lang — then reads the final table. The oracle is
    // an independent global last-wins over the same derived events, so
    // the entire stream→canonicalize→MERGE→commit→evolve pipeline is
    // value-exact against a second engine, not just spec-consistent.
    "q80_stream_replay" -> ((s, dir) => {
      val root = streamFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-stream-q").toString
        writeDerivedLog(s, dir, d)
        graft.stream.Replay.replay(s, s"$d/log", s"$d/table", s"$d/cp",
          nBuckets = 8, maxFilesPerTrigger = 1)
        d
      })
      graft.lake.LakeTable.load(s, s"$root/table").read()
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"), col("lang"))
    }),

    // CDC ENVELOPE DECODE (the binlog/WAL wire format): a Debezium-style
    // JSON-lines envelope feed derived from the events table is decoded
    // by graft.sources.CdcEnvelope.parse — from_json under an EXPLICIT
    // schema (no inference pre-pass), op mapping c/r->I u->U d->D, key
    // from after-else-before, all ONE codegen-fused projection riding
    // the text scan. The oracle recomputes the canonical rows from the
    // original parquet directly (same convention as the q25/q56/q67
    // format round-trips), so the whole wire decode is value-exact.
    // The fixture rides toEnvelope (parse's spec-asserted inverse), so
    // this also oracle-checks the EXPORT rendering end-to-end.
    "q81_cdc_envelope" -> ((s, dir) => {
      val tmp = envelopeFixtures.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-dbz").toString
        val isD = col("event_type") === "error"
        val canonical = t(s, dir, "events").select(
          pmod(col("user_id"), lit(4)).cast("int").as("shard"),
          col("event_id").as("lsn"),
          when(isD, "D").when(col("event_type") === "signup", "I").otherwise("U").as("op"),
          format_string("u%06d", col("user_id")).as("doc_id"),
          when(isD, lit(null)).otherwise(array(
            pmod(col("event_id"), lit(1000)).cast("int"),
            pmod(col("user_id"), lit(1000)).cast("int"))).as("tokens"),
          when(isD, lit(null)).otherwise(lit(2L)).as("n_tok"),
          when(isD, lit(null)).otherwise(col("event_type")).as("source"),
          lit(null).cast("string").as("lang"))
        graft.sources.CdcEnvelope.toEnvelope(canonical, table = "events")
          .write.mode("overwrite").text(d)
        d
      })
      graft.sources.CdcEnvelope.parse(s.read.text(tmp))
        .select(col("shard"), col("lsn"), col("op"), col("doc_id"),
          // concat_ws maps a null array to "" — keep deletes' NULL
          when(col("tokens").isNull, lit(null))
            .otherwise(concat_ws(",", col("tokens"))).as("tokens_csv"),
          col("n_tok"), col("source"))
    }),

    // INCREMENTAL STATE EXPORT (zone-map file skipping): rows of the
    // q80 replayed table whose CURRENT version landed after the log's
    // midpoint, via LakeTable.readUpdatedSince — the manifest's
    // per-file (minLsn, maxLsn) stats skip buckets untouched since the
    // threshold without opening a file (spec asserts the pruned
    // inputFiles); the oracle recomputes "last-wins winners with
    // winner-lsn past the midpoint" independently, so both the
    // pruning's SAFETY (no missing rows) and the returned `last_lsn`
    // watermark are value-exact.
    "q82_updated_since" -> ((s, dir) => {
      val _ = queries("q80_stream_replay")(s, dir) // ensures the fixture
      val root = streamFixtures(dir)
      val b = t(s, dir, "events").agg(min(col("event_id")), max(col("event_id"))).head()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      graft.lake.LakeTable.load(s, s"$root/table").readUpdatedSince(mid + 1)
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"), col("lang"), col("last_lsn"))
    }),

    // CORPUS TOKENIZATION (raw text -> token-id sequences, the step
    // that produces this engine's input payload): corpus-derived vocab
    // (top-16 words, vocabTopK tie rule) as a PLAN-LITERAL map +
    // hash-bucket OOV — the encode is one scan-fused projection, zero
    // joins/shuffles; vocabSize=16 on the 31-word synthetic corpus so
    // the OOV arm is genuinely exercised and oracle-checked
    "q83_tokenize" -> ((s, dir) =>
      graft.operators.TextAnalysis.tokenize(
          t(s, dir, "documents"), vocabSize = 16, oovBuckets = 32)
        .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tok"),
          concat_ws(",", col("tokens")).as("tokens_csv"))),

    // SUBWORD (BPE) TOKENIZATION under FIXED merge rules (the serving
    // path: an encoder must run under the exact vocabulary its model
    // was trained with, so merges/alphabet are plan literals — the
    // PQ fixed-books discipline; graft.operators.TextAnalysis.bpeTrain
    // LEARNS such rules and is spec-tested for determinism). The merge
    // walk is 8 nested literal replaces fused into the scan projection;
    // chars absent from the literal alphabet land in the OOV arm, so
    // the query stays value-exact at every SF
    "q85_bpe_encode" -> ((s, dir) =>
      graft.operators.TextAnalysis.bpeEncode(
          t(s, dir, "documents"), BpeMerges, BpeAlphabet, oovBuckets = 32)
        .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tok"),
          concat_ws(",", col("tokens")).as("tokens_csv"))),

    // §2.1 size-bounded chunk split (mongo splitVector analog): chunk
    // boundaries every maxChunkBytes of key-ordered payload, computed
    // with the exactNtile two-stage discipline (no global window);
    // rendered as per-chunk extents so the contract (contiguous ranges,
    // bounded payloads) is what the oracle checks
    "q84_byte_chunk_split" -> ((s, dir) =>
      graft.operators.Split.byteChunkSplit(
          t(s, dir, "documents"), col("doc_id"), col("n_chars"),
          maxChunkBytes = 4096)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n_rows"), sum(col("bytes")).as("chunk_bytes"),
          min(col("k")).as("lo"), max(col("k")).as("hi")))
  )

  /** DuckDB-runnable ANSI SQL oracles (column names matched 1:1). */
  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter" ->
      """SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_quantity, l_extendedprice LIMIT 1000""".stripMargin,
    "q02_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |count(*) AS n_rows FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q03_join_broadcast" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    "q04_join_shuffle" ->
      """SELECT o_orderstatus,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q05_cdc_lastwins" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q06_range_split" ->
      """WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem),
        |w AS (SELECT lo, CAST(floor((hi - lo + 8) / 8.0) AS BIGINT) AS width FROM b)
        |SELECT least(CAST(floor((l_orderkey - w.lo)::DOUBLE / w.width) AS BIGINT), 7) AS range_id,
        |count(*) AS n_rows FROM lineitem, w GROUP BY 1""".stripMargin,
    "q07_transform_chain" ->
      """SELECT doc_id, substr(text, 1, 20) AS sub20, lpad(lang, 5, '_') AS lang_pad,
        |substr(text, 1, 3) || '***' || substr(text, 10) AS spliced
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q08_filter_transform" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events WHERE NOT (event_type = 'error') AND value >= 1.0
        |GROUP BY event_type""".stripMargin,
    "q09_dirty_split" ->
      """SELECT (TRY_CAST(json_extract_string(props, '$.k') AS INT) IS NULL) AS is_dirty,
        |count(*) AS n FROM events GROUP BY 1""".stripMargin,
    "q10_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |round(avg(value), 4) AS avg_value FROM events GROUP BY 1, 2""".stripMargin,
    "q11_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q12_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |length(text) AS n_chars_calc FROM documents""".stripMargin,
    "q13_quality_score" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    w -> list_contains(['the','a','of','and','to'], w))) AS n_stop,
        |round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    w -> list_contains(['the','a','of','and','to'], w)))::DOUBLE
        |  / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stop_ratio
        |FROM documents""".stripMargin,

    "q14_dedup_minhash" ->
      s"""WITH ${graft.operators.Dedup.minhashPairsCtesSql("documents", n = 3, k = 12, bands = 4, threshold = 0.5)}
         |SELECT doc_a, doc_b, jaccard FROM mhpairs""".stripMargin,

    "q36_dedup_clusters" ->
      graft.operators.Dedup.connectedComponentsSql(
        graft.operators.Dedup.minhashPairsCtesSql(
          "documents", n = 3, k = 12, bands = 4, threshold = 0.5)),

    "q15_dedup_simhash" -> graft.operators.Dedup.simhash64Sql("documents"),

    "q16_ngram_jaccard" -> {
      val sh2 = graft.functions.Portable.shinglesSql("text", 2)
      s"""WITH g AS (SELECT doc_id, list_distinct($sh2) AS grams FROM documents),
         |a AS (SELECT doc_id AS anchor_id, grams AS agrams FROM g WHERE doc_id % 50 = 0),
         |j AS (
         |  SELECT a.anchor_id, g.doc_id,
         |    round(len(list_distinct(list_intersect(a.agrams, g.grams)))::DOUBLE
         |      / (len(a.agrams) + len(g.grams)
         |         - len(list_distinct(list_intersect(a.agrams, g.grams)))), 6) AS jaccard
         |  FROM g JOIN a ON a.anchor_id < g.doc_id)
         |SELECT anchor_id, doc_id, jaccard FROM j WHERE jaccard >= 0.05""".stripMargin
    },

    "q17_lang_id" ->
      s"""SELECT doc_id, lang, predicted, (predicted = lang) AS is_match
         |FROM (SELECT doc_id, lang, ${graft.operators.TextAnalysis.langIdSql} AS predicted
         |      FROM documents)""".stripMargin,

    "q18_fingerprint" ->
      s"""SELECT doc_id, ${graft.operators.TextAnalysis.fingerprintSql("text")} AS fp
         |FROM documents""".stripMargin,

    "q19_token_stats" ->
      s"""SELECT doc_id, n_ws_tokens, n_bpe_tokens, n_chars,
         |  round(n_chars::DOUBLE / n_bpe_tokens, 4) AS chars_per_bpe_token
         |FROM (SELECT doc_id,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
         |    len(regexp_extract_all(text, '${graft.operators.TextAnalysis.BpePattern}')) AS n_bpe_tokens,
         |    length(text) AS n_chars
         |  FROM documents)""".stripMargin,

    "q20_quality_panel" ->
      """SELECT doc_id, n_chars, n_words, n_stop, n_punct,
        |  round(n_stop::DOUBLE / n_words, 6) AS stop_ratio,
        |  round(n_punct::DOUBLE / n_chars, 6) AS punct_ratio,
        |  round((n_chars - n_words + 1)::DOUBLE / n_words, 6) AS mean_word_len
        |FROM (SELECT doc_id, length(text) AS n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        w -> list_contains(['the','a','of','and','to'], w))) AS n_stop,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents)""".stripMargin,

    "q21_ann_brute" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id, emb AS aemb FROM e WHERE vec_id % 100 = 0),
        |s AS (SELECT a.anchor_id, e.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, len(a.aemb)+1), i -> a.aemb[i] * e.emb[i]))
        |      / (sqrt(list_sum(list_transform(range(1, len(a.aemb)+1), i -> a.aemb[i]*a.aemb[i])))
        |       * sqrt(list_sum(list_transform(range(1, len(e.emb)+1), i -> e.emb[i]*e.emb[i])))), 6) AS sim
        |  FROM a JOIN e ON e.vec_id <> a.anchor_id),
        |r AS (SELECT anchor_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT anchor_id, rank, neighbor_id, sim FROM r WHERE rank <= 5""".stripMargin,

    "q22_ann_lsh" -> {
      val ctes = graft.operators.Similarity.lshRankCtesSql(
        "q", "vec_id % 100 = 0", bits = 8, dim = 64, probe = 2, tables = 4)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |$ctes
         |SELECT anchor_id, rank, neighbor_id, sim FROM qrk WHERE rank <= 5""".stripMargin
    },

    "q23_embed_neardup" -> {
      val b0 = graft.operators.Similarity.lshBucketSql("emb", 8, 64, planeOffset = 0)
      val b1 = graft.operators.Similarity.lshBucketSql("emb", 8, 64, planeOffset = 8)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, $b0 AS b0, $b1 AS b1 FROM e),
         |p AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |    round(list_sum(list_transform(range(1, len(x.emb)+1), i -> x.emb[i] * y.emb[i]))
         |      / (sqrt(list_sum(list_transform(range(1, len(x.emb)+1), i -> x.emb[i]*x.emb[i])))
         |       * sqrt(list_sum(list_transform(range(1, len(y.emb)+1), i -> y.emb[i]*y.emb[i])))), 6) AS sim
         |  FROM b x JOIN b y ON (x.b0 = y.b0 OR x.b1 = y.b1) AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.35""".stripMargin
    },

    "q33_ann_recall" -> {
      val sim = graft.operators.Similarity.simSql("a.aemb", "e.emb")
      val ctes = graft.operators.Similarity.lshRankCtesSql(
        "q", "vec_id % 100 = 0", bits = 8, dim = 64, probe = 2, tables = 4)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |a AS (SELECT vec_id AS anchor_id, emb AS aemb FROM e WHERE vec_id % 100 = 0),
         |sx AS (SELECT a.anchor_id, e.vec_id AS neighbor_id, $sim AS sim
         |  FROM a JOIN e ON e.vec_id <> a.anchor_id),
         |rx AS (SELECT anchor_id, neighbor_id,
         |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sx),
         |ex AS (SELECT anchor_id, neighbor_id FROM rx WHERE rank <= 5),
         |$ctes,
         |ap AS (SELECT anchor_id, neighbor_id FROM qrk WHERE rank <= 5),
         |hits AS (SELECT ex.anchor_id, count(ap.neighbor_id) AS hits
         |  FROM ex LEFT JOIN ap ON ex.anchor_id = ap.anchor_id AND ex.neighbor_id = ap.neighbor_id
         |  GROUP BY ex.anchor_id)
         |SELECT count(*)::BIGINT AS n_anchors,
         |  round(avg(hits::DOUBLE / 5), 6) AS avg_recall FROM hits""".stripMargin
    },

    "q34_simhash_pairs" ->
      graft.operators.Dedup.simhashNearDupSql("documents", maxHamming = 3),

    "q35_ann_ivf" ->
      graft.operators.Similarity.ivfTopKSql(
        "vec_id % 100 = 0", k = 5, cells = 16, dim = 64, nProbe = 4),

    "q92_ann_ivf_frozen" ->
      graft.operators.Similarity.ivfTopKWithSql(
        "vec_id % 100 = 0", k = 5, FrozenIvfCentroids, nProbe = 2),

    // q93: batch split at the event-id midpoint; batch-0 winners are
    // the inserts (envelope op c, no before); batch-1 winners update or
    // delete, their before = the batch-0 winner of the same key
    "q93_preimage_export" ->
      """WITH m AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |r0 AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id, event_id AS lsn,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok, event_type AS source,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |       FROM events, m WHERE event_id <= m.mid),
        |w0 AS (SELECT doc_id, lsn, n_tok, source FROM r0 WHERE rn = 1),
        |r1 AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id, event_id AS lsn,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok, event_type AS source,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |       FROM events, m WHERE event_id > m.mid),
        |w1 AS (SELECT doc_id, lsn, op, n_tok, source FROM r1 WHERE rn = 1)
        |SELECT 'c' AS op, lsn, doc_id, NULL::BIGINT AS b_ntok, NULL::VARCHAR AS b_src,
        |       n_tok AS a_ntok, source AS a_src FROM w0
        |UNION ALL
        |SELECT CASE WHEN w1.op = 'D' THEN 'd' ELSE 'u' END AS op, w1.lsn, w1.doc_id,
        |       w0.n_tok AS b_ntok, w0.source AS b_src,
        |       CASE WHEN w1.op = 'D' THEN NULL ELSE w1.n_tok END AS a_ntok,
        |       CASE WHEN w1.op = 'D' THEN NULL ELSE w1.source END AS a_src
        |FROM w1 LEFT JOIN w0 USING (doc_id)""".stripMargin,

    "q24_multimodal_decode" -> graft.operators.Multimodal.decodedMetadataSql,

    "q25_csv_source" ->
      """SELECT event_type, count(*) AS n, sum(user_id)::BIGINT AS sum_user,
        |min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM events GROUP BY event_type""".stripMargin,

    "q26_multitable_union" ->
      """SELECT nationkey, src, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey, 'customer' AS src FROM customer
        |  UNION ALL SELECT s_nationkey AS nationkey, 'supplier' AS src FROM supplier)
        |GROUP BY nationkey, src""".stripMargin,

    "q27_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,

    "q28_sessionize" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  sum(CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
        |      THEN 1 ELSE 0 END)::BIGINT AS n_sessions
        |FROM x GROUP BY user_id""".stripMargin,

    "q29_graph_edges" ->
      """SELECT 'customer_' || o_custkey AS src, count(*) AS out_degree,
        |round(sum(o_totalprice), 2) AS total_weight
        |FROM orders GROUP BY 1""".stripMargin,

    "q30_quantile_split" ->
      """WITH x AS (SELECT o_orderkey, ntile(8) OVER (ORDER BY o_orderkey) AS tile FROM orders)
        |SELECT tile, count(*) AS n_rows, min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |FROM x GROUP BY tile""".stripMargin,

    "q31_string_range_split" ->
      graft.operators.Split.stringRangeSplitSql("part", "p_name", 8),

    "q32_expr_transform" ->
      """SELECT doc_id, upper(substr(text, 1, 8)) || '_' || lang AS tagged
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q37_custom_transform" ->
      """SELECT doc_id, lower(trim(text)) AS norm_text,
        |len(regexp_split_to_array(trim(text), '\s+')) AS n_words
        |FROM documents""".stripMargin,

    "q38_cell_changes" ->
      """SELECT user_id AS pk, column_name, column_value, 'U' AS op_type,
        |  event_id AS version
        |FROM (
        |  SELECT user_id, event_id, c.column_name, c.column_value
        |  FROM events, UNNEST([
        |    {'column_name': 'event_type', 'column_value': event_type::VARCHAR},
        |    {'column_name': 'value_e4',   'column_value': CAST(floor(value * 10000 + 0.5) AS BIGINT)::VARCHAR},
        |    {'column_name': 'props',      'column_value': props::VARCHAR}]) AS t(c)
        |  WHERE NOT coalesce(event_type = 'error', false))
        |WHERE column_value IS NOT NULL
        |UNION ALL
        |SELECT user_id, NULL, NULL, 'DR', event_id
        |FROM events WHERE coalesce(event_type = 'error', false)""".stripMargin,

    "q40_incremental_neardup" ->
      graft.operators.Dedup.incrementalNearDupSql(
        "documents", "doc_id % 5 = 0", n = 3, k = 12, bands = 4, threshold = 0.5),

    "q41_sequence_pack" ->
      graft.operators.TextAnalysis.packSequencesSql("documents", seqLen = 512),

    "q42_vocab_topk" ->
      graft.operators.TextAnalysis.vocabTopKSql("documents", k = 50),

    "q43_corpus_mix" ->
      graft.operators.TextAnalysis.mixSampleSql("documents",
        rates = Map("src0" -> 500000, "src1" -> 50000), defaultPpm = 200000),

    "q44_decontaminate" ->
      graft.operators.Dedup.decontaminateSql("documents", "doc_id % 97 = 0", n = 3),

    "q45_lsh_index_probe" ->
      graft.operators.Dedup.incrementalNearDupSql(
        "documents", "doc_id % 5 = 0", n = 3, k = 12, bands = 4, threshold = 0.5,
        maxBucketSize = Int.MaxValue),

    "q46_pii_redact" -> {
      val seeded =
        """SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
          | || '@example.com from 10.' || CAST(doc_id % 250 AS VARCHAR)
          | || '.0.' || CAST(doc_id % 200 AS VARCHAR)
          | || ' call ' || CAST(doc_id + 7000000000 AS VARCHAR) AS text
          |FROM documents""".stripMargin
      s"WITH seeded AS ($seeded)\n" +
        graft.operators.TextAnalysis.piiRedactSql("seeded")
    },

    "q47_repetition" ->
      graft.operators.TextAnalysis.repetitionStatsSql("documents"),

    "q48_frame_index" ->
      graft.operators.Multimodal.frameIndexSql,

    "q49_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, max(value) AS last_purchase
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, p.last_purchase
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q50_range_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id AS purchase_id, epoch_us(ts) AS s_us,
        |         epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id
        |FROM clicks c JOIN purchases p
        |  ON c.p_us >= p.s_us AND c.p_us < p.e_us""".stripMargin,

    "q51_dup_spans" ->
      graft.operators.Dedup.dupSpansSql("documents", n = 5, minDf = 2),

    "q52_chunk_sequences" ->
      graft.operators.TextAnalysis.chunkSequencesSql("documents", chunkLen = 64, stride = 48),

    "q53_split_assign" ->
      graft.operators.TextAnalysis.splitAssignSql("documents", SplitSpec),

    "q54_quantize_int8" ->
      graft.operators.Similarity.quantizeInt8Sql("embeddings"),

    "q55_quant_recall" -> {
      val simF = graft.operators.Similarity.simSql("a.aemb", "e.emb")
      // reconstruction floor(x/scale + 0.5) * scale is pure IEEE — the
      // rebuilt arrays are bit-identical to the Spark side's, so the
      // 6-dp-rounded sims compare exactly (same q21/q33 convention)
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |sc AS (SELECT vec_id, emb,
         |    CASE WHEN list_max(list_transform(emb, x -> abs(x))) = 0 THEN 1.0
         |         ELSE list_max(list_transform(emb, x -> abs(x))) / 127 END AS scale
         |  FROM e0),
         |qe AS (SELECT vec_id,
         |    list_transform(emb, x -> floor(x / scale + 0.5) * scale) AS emb FROM sc),
         |ax AS (SELECT vec_id AS anchor_id, emb AS aemb FROM e0 WHERE vec_id % 100 = 0),
         |sx AS (SELECT a.anchor_id, e.vec_id AS neighbor_id, $simF AS sim
         |  FROM ax a JOIN e0 e ON e.vec_id <> a.anchor_id),
         |rx AS (SELECT anchor_id, neighbor_id,
         |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sx),
         |ex AS (SELECT anchor_id, neighbor_id FROM rx WHERE rank <= 5),
         |aq AS (SELECT vec_id AS anchor_id, emb AS aemb FROM qe WHERE vec_id % 100 = 0),
         |sq AS (SELECT a.anchor_id, e.vec_id AS neighbor_id, $simF AS sim
         |  FROM aq a JOIN qe e ON e.vec_id <> a.anchor_id),
         |rq AS (SELECT anchor_id, neighbor_id,
         |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sq),
         |ap AS (SELECT anchor_id, neighbor_id FROM rq WHERE rank <= 5),
         |hits AS (SELECT ex.anchor_id, count(ap.neighbor_id) AS hits
         |  FROM ex LEFT JOIN ap ON ex.anchor_id = ap.anchor_id AND ex.neighbor_id = ap.neighbor_id
         |  GROUP BY ex.anchor_id)
         |SELECT count(*)::BIGINT AS n_anchors,
         |  round(avg(hits::DOUBLE / 5), 6) AS avg_recall FROM hits""".stripMargin
    },

    // q56 round-trips documents through JSONL in Spark; the values the
    // oracle must reproduce are the original parquet aggregates (same
    // convention as q25's CSV round-trip)
    "q56_json_source" ->
      """SELECT lang, source, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars,
        |min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY lang, source""".stripMargin,

    "q57_semantic_dedup" ->
      graft.operators.Similarity.semanticDedupSql(threshold = 0.3, cells = 16, dim = 64),

    "q58_tfidf_topk" ->
      graft.operators.TextAnalysis.tfidfTopKSql("documents", k = 5),

    "q59_paragraph_dedup" ->
      graft.operators.Dedup.paragraphDedupSql("documents", paraLen = 16),

    "q60_unigram_surprisal" ->
      graft.operators.TextAnalysis.unigramSurprisalSql("documents"),

    "q61_shuffle_shards" ->
      graft.operators.TextAnalysis.shuffleShardsSql("documents", nShards = 8),

    // q62 applies the SAME derived change batches through the real
    // LakeTable merge engine; the feed of batch 1 must equal the
    // batch's canonical last-wins changes (one row per doc, max lsn)
    "q62_lake_changelog" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT user_id AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::INT AS n_tok,
        |        event_type AS source
        |      FROM events, b WHERE event_id > b.mid),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, op, lsn, tokens_csv, n_tok, source, 1::BIGINT AS batch_id
        |FROM w WHERE rn = 1""".stripMargin,

    // q63: last-wins state of the batch-0 slice only (snapshot isolation
    // — batch 1 invisible), delete-winners filtered like read()
    "q63_time_travel" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT user_id AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::INT AS n_tok,
        |        event_type AS source
        |      FROM events, b WHERE event_id <= b.mid),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source FROM w WHERE rn = 1 AND op <> 'D'"""
        .stripMargin,

    "q64_quality_filter" ->
      graft.operators.TextAnalysis.qualityFilterSql("documents"),

    "q65_audio_segments" ->
      graft.operators.Multimodal.audioSegmentsSql(segMs = 30000L, strideMs = 25000L),

    "q66_image_patches" ->
      graft.operators.Multimodal.imagePatchesSql(patch = 256),

    // q67 round-trips lineitem through ORC in Spark; the values the
    // oracle must reproduce are the original parquet aggregates (same
    // convention as q25's CSV / q56's JSONL round-trips)
    "q67_orc_source" ->
      """SELECT l_returnflag, count(*) AS n, sum(l_partkey)::BIGINT AS sum_part,
        |min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem WHERE l_linenumber > 3 GROUP BY l_returnflag""".stripMargin,

    // q68's history is rendered as a CSV string (arrays never ride the
    // driver compare raw); event_id is the total order within a user
    "q68_change_history" ->
      """SELECT user_id, count(*) AS n_changes,
        |string_agg(event_id || ':' || event_type, ',' ORDER BY event_id) AS history
        |FROM events GROUP BY user_id""".stripMargin,

    // q69's values the oracle reproduces from documents directly (the
    // nested parquet round-trip + leaf pruning is the Spark-side
    // surface; the leaves' arithmetic is shared via exifLeavesSql)
    "q69_exif_prune" ->
      s"""SELECT device, orientation, count(*) AS n, sum(width)::BIGINT AS sum_w
         |FROM (${graft.operators.Multimodal.exifLeavesSql.replace("\n", "\n      ")})
         |GROUP BY device, orientation""".stripMargin,

    // q70: final last-wins state (delete-winners filtered, like read())
    // of the whole event-derived change set — value-identical before and
    // after the bucket-count rescale, which is exactly what the row checks
    "q70_rebucket" ->
      """WITH c AS (SELECT user_id AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::INT AS n_tok,
        |        event_type AS source
        |      FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source FROM w WHERE rn = 1 AND op <> 'D'"""
        .stripMargin,

    // q71: the same last-wins state restricted to the lookup key set
    "q71_point_lookup" ->
      """WITH c AS (SELECT user_id AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::INT AS n_tok,
        |        event_type AS source
        |      FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source FROM w
        |WHERE rn = 1 AND op <> 'D' AND doc_id % 97 = 0""".stripMargin,

    // q72: chunk assignment mirrored integer-exactly (DuckDB `//` ==
    // Spark floor() over an exact double product)
    "q72_history_chunks" ->
      """WITH b AS (SELECT min(event_id) AS lo,
        |             greatest(1, max(event_id) - min(event_id) + 1) AS span
        |           FROM events),
        |c AS (SELECT user_id, event_id, event_type,
        |        ((event_id - b.lo) * 8 // b.span)::INT AS chunk_idx
        |      FROM events, b)
        |SELECT user_id, chunk_idx, count(*)::BIGINT AS n_in_chunk,
        |       string_agg(event_id || ':' || event_type, ','
        |                  ORDER BY event_id, event_type) AS chunk_csv
        |FROM c GROUP BY user_id, chunk_idx""".stripMargin,

    "q73_pq_encode" ->
      graft.operators.Similarity.pqEncodeSql("embeddings", m = 16, ksub = 16, dim = 64),

    "q74_pq_recall" ->
      graft.operators.Similarity.pqRecallSql("vec_id % 100 = 0", k = 5, m = 16, ksub = 16, dim = 64),

    "q75_pq_rerank_recall" ->
      graft.operators.Similarity.pqRerankRecallSql("vec_id % 100 = 0", k = 5,
        shortlist = 50, m = 16, ksub = 16, dim = 64),

    "q76_ivfpq_recall" ->
      graft.operators.Similarity.ivfPqRecallSql("vec_id % 100 = 0", k = 5,
        shortlist = 50, cells = 16, nProbe = 4, m = 16, ksub = 16, dim = 64),

    "q77_ann_index_probe" ->
      graft.operators.Similarity.ivfPqTopKSql("vec_id % 100 = 0", k = 5,
        shortlist = 50, cells = 16, nProbe = 4, m = 16, ksub = 16, dim = 64),

    // q86: the same probe stack over the corpus MINUS the deleted ids —
    // the tombstoned index must serve exactly this
    "q86_ann_index_delete" ->
      graft.operators.Similarity.ivfPqTopKSql("vec_id % 100 = 0", k = 5,
        shortlist = 50, cells = 16, nProbe = 4, m = 16, ksub = 16, dim = 64,
        corpusWhere = "vec_id % 7 <> 3"),

    // q78: global last-wins over batch 0 (lsn <= mid, all keys) UNION
    // batch 1 (lsn > mid, only keys with doc_id % 5 = 0, carrying
    // lang); n_tok rides the widened BIGINT
    "q78_schema_evolution" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT user_id AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok,
        |        event_type AS source,
        |        CASE WHEN event_id > b.mid THEN 'l_' || event_type END AS lang
        |      FROM events, b
        |      WHERE event_id <= b.mid OR user_id % 5 = 0),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source, lang
        |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // q79: per (batch, shard) applied-lsn range + raw-event count,
    // mirroring q78's batch slicing
    "q79_lineage" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT CASE WHEN event_id <= b.mid THEN 0 ELSE 1 END::BIGINT AS batch_id,
        |        (user_id % 4)::INT AS shard, event_id
        |      FROM events, b
        |      WHERE event_id <= b.mid OR user_id % 5 = 0)
        |SELECT batch_id, shard, min(event_id) AS min_lsn, max(event_id) AS max_lsn,
        |       count(*) AS n_rows
        |FROM c GROUP BY batch_id, shard""".stripMargin,

    // q80: independent last-wins over the SAME events the streamed
    // replay consumed (D rows tombstone; lang only on post-mid events)
    "q80_stream_replay" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok,
        |        event_type AS source,
        |        CASE WHEN event_id > b.mid THEN 'l_' || event_type END AS lang
        |      FROM events, b),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source, lang
        |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // q81 round-trips the canonical change rows through the Debezium
    // JSON envelope in Spark (toEnvelope -> text -> parse); the values
    // the oracle must reproduce are the canonical rows derived from the
    // original parquet (q67's round-trip convention)
    "q81_cdc_envelope" ->
      """SELECT (user_id % 4)::INT AS shard, event_id AS lsn,
        |CASE WHEN event_type = 'error' THEN 'D'
        |     WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
        |'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id,
        |CASE WHEN event_type = 'error' THEN NULL
        |     ELSE (event_id % 1000)::VARCHAR || ',' || (user_id % 1000)::VARCHAR END AS tokens_csv,
        |CASE WHEN event_type = 'error' THEN NULL ELSE 2 END::BIGINT AS n_tok,
        |CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS source
        |FROM events""".stripMargin,

    // q82: q80's table, filtered to winners past the log midpoint —
    // the incremental-export slice plus its per-row lsn watermark
    "q82_updated_since" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok,
        |        event_type AS source,
        |        CASE WHEN event_id > b.mid THEN 'l_' || event_type END AS lang
        |      FROM events, b),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source, lang, lsn AS last_lsn
        |FROM w, b WHERE rn = 1 AND op <> 'D' AND lsn > b.mid""".stripMargin,

    "q83_tokenize" ->
      graft.operators.TextAnalysis.tokenizeSql("documents", vocabSize = 16, oovBuckets = 32),

    "q85_bpe_encode" ->
      graft.operators.TextAnalysis.bpeEncodeSql("documents", BpeMerges, BpeAlphabet, 32),

    "q84_byte_chunk_split" ->
      """WITH x AS (SELECT doc_id::BIGINT AS k, n_chars::BIGINT AS bytes FROM documents),
        |c AS (SELECT k, bytes,
        |             ((sum(bytes) OVER (ORDER BY k) - bytes) // 4096)::BIGINT AS chunk_id
        |      FROM x)
        |SELECT chunk_id, count(*) AS n_rows, sum(bytes)::BIGINT AS chunk_bytes,
        |       min(k) AS lo, max(k) AS hi
        |FROM c GROUP BY chunk_id""".stripMargin,

    // q88: DuckDB islands sessionization. The stream's gap math runs on
    // java.sql.Timestamp.getTime MILLISECONDS (micros truncate), and its
    // emitted bounds are ms-precision timestamps — so the oracle works
    // in tms = epoch_us // 1000 throughout (gap test AND rendered
    // bounds); ordering still breaks ties by full-precision (ts,
    // event_id), which cannot change the gap partition (tms is monotone
    // in ts and the gap depends only on tms).
    "q88_stream_sessions" ->
      """WITH x AS (SELECT user_id, ts, event_id, epoch_us(ts) // 1000 AS tms FROM events),
        |y AS (SELECT user_id, ts, event_id, tms,
        |        lag(tms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tms
        |      FROM x),
        |z AS (SELECT user_id, tms,
        |        sum(CASE WHEN prev_tms IS NULL OR tms - prev_tms > 1800000
        |            THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM y)
        |SELECT user_id, make_timestamp(min(tms) * 1000) AS session_start,
        |       make_timestamp(max(tms) * 1000) AS session_end,
        |       count(*)::BIGINT AS n_events
        |FROM z GROUP BY user_id, sess""".stripMargin,

    // q89: tumbling hour windows == date_trunc buckets (Spark's
    // window() aligns to the epoch hour); counts only — float sums are
    // not addition-order-stable cross-engine, and the watermark/window
    // machinery is what this query gates
    "q89_stream_windows" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |       count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // q90: the mirror must serve exactly what the source table serves —
    // q80's oracle verbatim (global last-wins over the derived events)
    "q90_feed_mirror" ->
      """WITH b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid FROM events),
        |c AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        (event_id % 1000)::VARCHAR AS tokens_csv,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok,
        |        event_type AS source,
        |        CASE WHEN event_id > b.mid THEN 'l_' || event_type END AS lang
        |      FROM events, b),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, tokens_csv, n_tok, source, lang
        |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // q91: the keyed sink must serve last-wins-by-id minus tombstoned
    // keys — the q80 derivation without the token/lang columns
    "q91_keyed_sink" ->
      """WITH c AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        CASE WHEN event_type = 'error' THEN NULL
        |             ELSE ((event_id % 7) + 1) END::BIGINT AS n_tok,
        |        CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS source
        |      FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT doc_id, lsn, n_tok, source
        |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // q87 maintains (source, cnt, sum_val) incrementally from the feed;
    // the oracle recomputes it directly from a global last-wins over
    // the same derived change rows (q80's CTE, aggregated)
    "q87_incremental_agg" ->
      """WITH c AS (SELECT 'u' || lpad(user_id::VARCHAR, 6, '0') AS doc_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        event_id AS lsn,
        |        ((event_id % 7) + 1)::BIGINT AS n_tok,
        |        event_type AS source
        |      FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
        |      FROM c)
        |SELECT source, count(*)::BIGINT AS cnt, sum(n_tok)::BIGINT AS sum_val
        |FROM w WHERE rn = 1 AND op <> 'D'
        |GROUP BY source""".stripMargin
  )
}

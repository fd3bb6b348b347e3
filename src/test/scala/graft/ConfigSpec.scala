package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.config.{Configs, Yaml}
import graft.operators.TrackerConfig

/** S12 — YAML config + CLI overrides (reference helpers.py:36-286):
  * the YAML-subset parser, int→float→bool→str override inference,
  * wholesale override precedence, filename dispatch, and the required-
  * dataset guard. YAML fixtures replicate the SHAPES of the reference's
  * cfgs (flat scalars, nested flow lists, a multi-line flow map).
  */
class ConfigSpec extends AnyFunSuite {

  private val trackYaml =
    """# Data configuration
      |dataset: null   # Required field
      |seq_start_index: 0
      |seq_length_limit: null
      |
      |use_kalman: True
      |use_spatial_index: True
      |bidirectional_matching: True
      |
      |thresholds: {
      |    "appearance": 0.4764,
      |    "distance": 99.18,
      |    "size": 0.3143,
      |}
      |threshold_tolerance: 0.3
      |get_gt_thresholds: False
      |gt_thresholds: "hill/train"
      |
      |weight_appearance: 0.2
      |weight_euclidean_distance: 0.2
      |weight_kalman_distance: 0.5
      |weight_size: 0.1
      |
      |max_age: 3
      |min_iceberg_id_count: 1
      |min_iceberg_size: 0.0
      |
      |process_noise: 10.0
      |measurement_noise: 18.0
      |""".stripMargin

  test("YAML subset: scalars, null, bools, strings, comments") {
    val m = Yaml.parse(trackYaml)
    assert(m("dataset") == null)
    assert(m("seq_start_index") == 0L)
    assert(m("use_kalman") == true)
    assert(m("get_gt_thresholds") == false)
    assert(m("gt_thresholds") == "hill/train")
    assert(m("threshold_tolerance") == 0.3)
    assert(m("max_age") == 3L)
  }

  test("YAML subset: multi-line flow map and nested flow lists") {
    val m = Yaml.parse(trackYaml)
    assert(m("thresholds") == Map(
      "appearance" -> 0.4764, "distance" -> 99.18, "size" -> 0.3143))
    val d = Yaml.parse(
      """anchor_sizes: [[16], [32], [64]]
        |scales: [0.5, 1]
        |learning_rate: 1e-4
        |window_size: [1536, 1536]
        |""".stripMargin)
    assert(d("anchor_sizes") == List(List(16L), List(32L), List(64L)))
    assert(d("scales") == List(0.5, 1L))
    assert(d("learning_rate") == 1e-4)
  }

  test("override inference: int beats float beats bool beats string") {
    assert(Yaml.inferScalar("7") == 7L)
    assert(Yaml.inferScalar("0.7") == 0.7)
    assert(Yaml.inferScalar("1e-4") == 1e-4)
    assert(Yaml.inferScalar("True") == true)
    assert(Yaml.inferScalar("false") == false)
    assert(Yaml.inferScalar("hill/test") == "hill/test")
  }

  test("parseOverrides: cfg extracted, non-kv tokens ignored") {
    val (cfg, ov) = Configs.parseOverrides(
      Seq("track", "cfg=cfgs/track.yaml", "dataset=hill/test", "max_age=7"))
    assert(cfg.contains("cfgs/track.yaml"))
    assert(ov == Map("dataset" -> "hill/test", "max_age" -> 7L))
  }

  test("track config: YAML defaults + overrides → TrackerConfig") {
    val cfg = Configs.load("cfgs/track.yaml", trackYaml,
      Map("dataset" -> "hill/test", "max_age" -> 7L, "use_kalman" -> false))
      .asInstanceOf[Configs.TrackRunConfig]
    assert(cfg.dataset == "hill/test")
    assert(cfg.tracker.maxAge == 7)               // override wins
    assert(!cfg.tracker.useKalman)                // override wins
    assert(cfg.tracker.thresholdAppearance == 0.4764) // YAML flow map
    assert(cfg.tracker.thresholdDistance == 99.18)
    assert(cfg.tracker.wKalman == 0.5)
    assert(cfg.tracker.measurementNoise == 18.0)
    assert(cfg.seqLengthLimit.isEmpty)            // explicit null
    // untouched defaults survive
    assert(cfg.tracker.bidirectional == TrackerConfig().bidirectional)
  }

  test("eval + detect dispatch by filename substring") {
    val e = Configs.load("cfgs/eval.yaml",
      "dataset: null\niou_threshold: 0.5\n", Map("dataset" -> "x"))
      .asInstanceOf[Configs.EvalRunConfig]
    assert(e.iouThreshold == 0.5)
    val d = Configs.load("my/detect_custom.yaml",
      """dataset: "hill/test"
        |confidence_threshold: 0.1
        |scales: [0.5, 1]
        |window_size: [1536, 1536]
        |num_epochs: 4
        |""".stripMargin)
      .asInstanceOf[Configs.DetectRunConfig]
    assert(d.confidenceThreshold == 0.1)
    assert(d.scales == Seq(0.5, 1.0))
    assert(d.windowSize == ((1536, 1536)))
    assert(d.extras("num_epochs") == 4L) // training keys carried, not dropped
  }

  test("plain scalars containing colons (URLs, times) parse as data, not keys") {
    val m = Yaml.parse(
      """urls:
        |  - http://example.com/a
        |  - https://x.org:8080/b
        |times:
        |  - 12:30
        |endpoint: http://host:9000/path
        |""".stripMargin)
    assert(m("urls") == List("http://example.com/a", "https://x.org:8080/b"))
    assert(m("times") == List("12:30"))
    assert(m("endpoint") == "http://host:9000/path")
    // a genuine nested mapping in a list is still rejected loudly
    intercept[IllegalArgumentException] {
      Yaml.parse("xs:\n  - key: val\n")
    }
  }

  test("visualize config: reference-shaped YAML, source validation, SAM keys rejected") {
    // mirrors cfgs/visualize.yaml (reference VisualizationConfig,
    // src/utils/visualize.py:157-180)
    val vizYaml =
      """dataset: null
        |annotation_source: tracking
        |start_index: 0
        |seq_length_limit: null
        |show_images: False
        |draw_ids: True
        |draw_boxes: True
        |draw_contours: False
        |draw_masks: False
        |fps: 7
        |""".stripMargin
    val v = Configs.load("cfgs/visualize.yaml", vizYaml,
      Map("dataset" -> "hill/test", "fps" -> 10L))
      .asInstanceOf[Configs.VisualizeRunConfig]
    assert(v.annotationSource == "tracking" && v.fps == 10
      && v.drawIds && v.drawBoxes && v.seqLengthLimit.isEmpty)
    // reference-validated source list (visualize.py:175-177)
    val ex = intercept[IllegalArgumentException] {
      Configs.load("cfgs/visualize.yaml", vizYaml,
        Map("dataset" -> "x", "annotation_source" -> "bogus"))
    }
    assert(ex.getMessage.contains("Invalid annotation source"))
    // SAM-backed options are out of engine scope -> loud, not silent
    intercept[IllegalArgumentException] {
      Configs.load("cfgs/visualize.yaml", vizYaml,
        Map("dataset" -> "x", "draw_masks" -> true))
    }
    // typo'd override caught by the known-keys gate
    intercept[IllegalArgumentException] {
      Configs.load("cfgs/visualize.yaml", vizYaml,
        Map("dataset" -> "x", "fpss" -> 10L))
    }
  }

  test("missing dataset fails loudly; unknown config type fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      Configs.load("cfgs/track.yaml", trackYaml) // dataset: null, no override
    }
    assert(ex.getMessage.contains("Dataset"))
    intercept[IllegalArgumentException] {
      Configs.load("cfgs/embed.yaml", "dataset: x\n")
    }
  }

  test("one level of block nesting: maps, lists, bare-key null") {
    val m = Yaml.parse(
      """thresholds:
        |  appearance: 0.4764
        |  distance: 99.18
        |scales:
        |  - 0.5
        |  - 1
        |empty_key:
        |next: 7
        |""".stripMargin)
    assert(m("thresholds") == Map("appearance" -> 0.4764, "distance" -> 99.18))
    assert(m("scales") == List(0.5, 1L))
    assert(m("empty_key") == null)
    assert(m("next") == 7L)
  }

  test("an indented variant of track.yaml loads to the same TrackRunConfig") {
    // the same config a user would hand-write with block nesting
    // instead of the reference's flow map — values must round-trip
    // identically through the typed loader
    val blockYaml = trackYaml.replace(
      """thresholds: {
        |    "appearance": 0.4764,
        |    "distance": 99.18,
        |    "size": 0.3143,
        |}""".stripMargin,
      """thresholds:
        |  appearance: 0.4764
        |  distance: 99.18
        |  size: 0.3143""".stripMargin)
    assert(blockYaml != trackYaml, "replacement did not apply")
    val flow = Configs.load("cfgs/track.yaml", trackYaml, Map("dataset" -> "x"))
    val block = Configs.load("cfgs/track.yaml", blockYaml, Map("dataset" -> "x"))
    assert(block == flow)
  }

  test("arbitrary-depth block nesting parses; malformed shapes still fail loudly") {
    // a child opening its own block recurses to any depth
    val deep = Yaml.parse(
      """outer:
        |  mid:
        |    inner: 1
        |    leaf_list:
        |      - 0.5
        |      - two
        |  sibling: x
        |after: 9
        |""".stripMargin)
    assert(deep("outer") == Map(
      "mid" -> Map("inner" -> 1L, "leaf_list" -> List(0.5, "two")),
      "sibling" -> "x"))
    assert(deep("after") == 9L)
    // a bare key: at depth is still an explicit null
    val nul = Yaml.parse("a:\n  b:\n  c: 1\n")
    assert(nul("a") == Map("b" -> null, "c" -> 1L))
    // mixed list/map entries under one key
    intercept[IllegalArgumentException] {
      Yaml.parse("outer:\n  - 1\n  k: 2\n")
    }
    // indentation with no open block
    intercept[IllegalArgumentException] {
      Yaml.parse("a: 1\n  b: 2\n")
    }
    // a dedent to an indent no enclosing block owns
    intercept[IllegalArgumentException] {
      Yaml.parse("a:\n    b: 1\n  c: 2\n")
    }
    // `- key: val` is a list-of-maps in real YAML — must fail loudly,
    // not silently parse as the string "key: val"
    val e2 = intercept[IllegalArgumentException] {
      Yaml.parse("scales:\n  - appearance: 0.5\n")
    }
    assert(e2.getMessage.contains("flow collections"))
    // flow-map and quoted items in block lists stay legal
    val ok = Yaml.parse("items:\n  - {a: 1}\n  - \"x: y\"\n")
    assert(ok("items") == List(Map("a" -> 1L), "x: y"))
  }

  test("dotted overrides reach nested maps (OmegaConf dotlist)") {
    val cfg = Configs.load("cfgs/track.yaml", trackYaml,
      Map("dataset" -> "x", "thresholds.distance" -> 50.0))
      .asInstanceOf[Configs.TrackRunConfig]
    assert(cfg.tracker.thresholdDistance == 50.0)   // override reached the nest
    assert(cfg.tracker.thresholdAppearance == 0.4764) // sibling survived
  }

  test("typo'd override keys fail loudly instead of silently mis-configuring") {
    val ex = intercept[IllegalArgumentException] {
      Configs.load("cfgs/track.yaml", trackYaml,
        Map("dataset" -> "x", "maxage" -> 7L)) // typo for max_age
    }
    assert(ex.getMessage.contains("maxage"))
    intercept[IllegalArgumentException] {
      Configs.load("cfgs/eval.yaml", "dataset: x\n", Map("iou" -> 0.4))
    }
    // nested-path typo: first segment is valid, the leaf is not — must
    // fail like any other unknown key, not merge silently
    val ex2 = intercept[IllegalArgumentException] {
      Configs.load("cfgs/track.yaml", trackYaml,
        Map("dataset" -> "x", "thresholds.distancee" -> 50.0))
    }
    assert(ex2.getMessage.contains("thresholds.distancee"))
  }

  test("detect list keys accept CLI override shapes, reject garbage") {
    val d = Configs.load("d/detect.yaml", "dataset: x\n",
      Map("scales" -> "0.25, 0.5", "window_size" -> "1024,768"))
      .asInstanceOf[Configs.DetectRunConfig]
    assert(d.scales == Seq(0.25, 0.5))
    assert(d.windowSize == ((1024, 768)))
    // single number = one-scale run
    val d2 = Configs.load("d/detect.yaml", "dataset: x\n", Map("scales" -> 0.25))
      .asInstanceOf[Configs.DetectRunConfig]
    assert(d2.scales == Seq(0.25))
    // a shapeless window_size must not silently fall back to defaults
    intercept[IllegalArgumentException] {
      Configs.load("d/detect.yaml", "dataset: x\nwindow_size: 77\n")
    }
  }

  test("a duplicate key and a non-mapping document fail loudly") {
    // last-wins would silently drop the first value
    intercept[IllegalArgumentException] {
      Yaml.parse("a: 1\na: 2\n")
    }
    intercept[IllegalArgumentException] {
      Yaml.parse("- a\n- b\n")
    }
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Build-time same-script language-ID trainer (t30): fits a hashed
  * char-TRIGRAM multinomial logistic regression that separates the
  * es/fr/pt family — three Latin-script languages the t26 script
  * counter cannot tell apart and the t02 marker-word lists confuse on
  * short text. The [[TrainQualityFilter]] distillation pattern:
  * training runs ONCE offline over the embedded corpus below, and the
  * frozen (intercepts, weights) literals paste into
  * [[graft.text.LangIdTrigramModel]] so the Spark plan and the DuckDB
  * oracle score bit-identically.
  *
  * Features are relative hashed-trigram frequencies of the LOWERCASED
  * text (c_b / n_grams, 256 buckets, the t10/t11 h64 bucketing with
  * salt 29); trigrams include spaces, so function words ("ção", "le ",
  * " el", "não") dominate exactly as in classic char-n-gram langid
  * (Cavnar & Trenkle 1994). The corpus is self-authored prose — no
  * external data enters the build.
  *
  *   sbt "runMain graft.tools.TrainLangIdTrigram"
  */
object TrainLangIdTrigram {

  /** ~28 sentences per language, everyday register, function-word
    * rich, deliberately near-parallel across the three languages so
    * the model must learn discriminative function-word trigrams
    * rather than topic. Held-out gate/spec fixtures must NOT appear
    * here (the last 8 rows per language cover the speech-report /
    * rest / drink-water constructions the r13 model missed on the
    * held-out set — parallel in all three languages, so no bias). */
  val Corpus: Seq[(String, String)] = Seq(
    // ── Spanish ──
    "es" -> "el mercado de la ciudad abre temprano y los vendedores preparan sus puestos con fruta fresca",
    "es" -> "no sabemos si el tren llega hoy porque la estación estaba cerrada cuando pasamos",
    "es" -> "la casa de mis abuelos tiene un patio grande donde los niños juegan toda la tarde",
    "es" -> "creo que mañana vamos a necesitar más tiempo para terminar el trabajo del jardín",
    "es" -> "las montañas del norte están cubiertas de nieve durante casi todo el invierno",
    "es" -> "el profesor explicó la lección otra vez porque muchos estudiantes no habían entendido nada",
    "es" -> "quiero comprar un libro nuevo pero la librería del barrio cierra los domingos",
    "es" -> "cuando llueve mucho el río sube y el puente viejo queda cerrado por seguridad",
    "es" -> "mi hermana trabaja en un hospital y siempre cuenta historias de sus pacientes",
    "es" -> "los caminos del pueblo son estrechos y las casas tienen paredes blancas y techos rojos",
    "es" -> "esta noche vamos a cenar con unos amigos que acaban de volver de su viaje",
    "es" -> "el gato duerme sobre la silla mientras la abuela teje junto a la ventana",
    "es" -> "hay que llevar el coche al taller porque hace un ruido extraño desde ayer",
    "es" -> "la música sonaba tan fuerte que los vecinos salieron a ver qué pasaba en la calle",
    "es" -> "después de la tormenta el cielo quedó despejado y pudimos ver todas las estrellas",
    "es" -> "el niño aprendió a nadar este verano en la piscina del pueblo con su primo",
    "es" -> "necesitamos comprar pan y leche antes de que cierren las tiendas del centro",
    "es" -> "aunque era tarde seguimos hablando de los viejos tiempos hasta la madrugada",
    "es" -> "la empresa anunció que va a abrir una nueva fábrica cerca de la frontera",
    "es" -> "cada año las familias se reúnen en la plaza para celebrar la fiesta del pueblo",
    "es" -> "la vecina me dijo que el autobús tarda unos veinte minutos en llegar al centro",
    "es" -> "tienes que beber mucha agua cuando haces deporte en los días de calor",
    "es" -> "el abuelo descansa unos minutos después de comer y luego sale a caminar",
    "es" -> "mi madre preparó una sopa de verduras y todos pidieron un poco más",
    "es" -> "el partido terminó tarde y volvimos a casa caminando bajo la lluvia",
    "es" -> "ella estudia por la noche porque durante el día trabaja en la tienda",
    "es" -> "dime si necesitas algo más antes de que salga para el aeropuerto",
    "es" -> "los trabajadores piden mejores horarios y un descanso más largo al mediodía",
    // ── French ──
    "fr" -> "le marché de la ville ouvre très tôt et les vendeurs installent leurs étals de fruits frais",
    "fr" -> "nous ne savons pas si le train arrive aujourd'hui parce que la gare était fermée ce matin",
    "fr" -> "la maison de mes grands-parents a une grande cour où les enfants jouent tout l'après-midi",
    "fr" -> "je crois que demain il nous faudra plus de temps pour finir le travail du jardin",
    "fr" -> "les montagnes du nord sont couvertes de neige pendant presque tout l'hiver",
    "fr" -> "le professeur a expliqué la leçon encore une fois car beaucoup d'élèves n'avaient rien compris",
    "fr" -> "je veux acheter un nouveau livre mais la librairie du quartier ferme le dimanche",
    "fr" -> "quand il pleut beaucoup la rivière monte et le vieux pont reste fermé par sécurité",
    "fr" -> "ma sœur travaille dans un hôpital et raconte toujours des histoires de ses patients",
    "fr" -> "les chemins du village sont étroits et les maisons ont des murs blancs et des toits rouges",
    "fr" -> "ce soir nous allons dîner avec des amis qui viennent de rentrer de leur voyage",
    "fr" -> "le chat dort sur la chaise pendant que la grand-mère tricote près de la fenêtre",
    "fr" -> "il faut amener la voiture au garage parce qu'elle fait un bruit étrange depuis hier",
    "fr" -> "la musique était si forte que les voisins sont sortis voir ce qui se passait dans la rue",
    "fr" -> "après l'orage le ciel est devenu clair et nous avons pu voir toutes les étoiles",
    "fr" -> "le garçon a appris à nager cet été dans la piscine du village avec son cousin",
    "fr" -> "nous devons acheter du pain et du lait avant que les magasins du centre ne ferment",
    "fr" -> "même s'il était tard nous avons continué à parler du bon vieux temps jusqu'à l'aube",
    "fr" -> "l'entreprise a annoncé qu'elle va ouvrir une nouvelle usine près de la frontière",
    "fr" -> "chaque année les familles se retrouvent sur la place pour fêter la fête du village",
    "fr" -> "la voisine m'a dit que le bus met environ vingt minutes pour arriver au centre",
    "fr" -> "il faut boire beaucoup d'eau quand on fait du sport pendant les jours de chaleur",
    "fr" -> "le grand-père se repose quelques minutes après le repas puis sort marcher",
    "fr" -> "ma mère a préparé une soupe de légumes et tout le monde en a redemandé",
    "fr" -> "le match s'est terminé tard et nous sommes rentrés à pied sous la pluie",
    "fr" -> "elle étudie le soir parce que pendant la journée elle travaille au magasin",
    "fr" -> "dis-moi si tu as besoin d'autre chose avant que je parte pour l'aéroport",
    "fr" -> "les ouvriers demandent de meilleurs horaires et une pause plus longue à midi",
    // ── Portuguese ──
    "pt" -> "o mercado da cidade abre cedo e os vendedores preparam as bancas com fruta fresca",
    "pt" -> "não sabemos se o comboio chega hoje porque a estação estava fechada quando passámos",
    "pt" -> "a casa dos meus avós tem um quintal grande onde as crianças brincam toda a tarde",
    "pt" -> "acho que amanhã vamos precisar de mais tempo para acabar o trabalho do jardim",
    "pt" -> "as montanhas do norte ficam cobertas de neve durante quase todo o inverno",
    "pt" -> "o professor explicou a lição outra vez porque muitos alunos não tinham percebido nada",
    "pt" -> "quero comprar um livro novo mas a livraria do bairro fecha aos domingos",
    "pt" -> "quando chove muito o rio sobe e a ponte velha fica fechada por segurança",
    "pt" -> "a minha irmã trabalha num hospital e conta sempre histórias dos seus doentes",
    "pt" -> "os caminhos da aldeia são estreitos e as casas têm paredes brancas e telhados vermelhos",
    "pt" -> "esta noite vamos jantar com uns amigos que acabaram de voltar da sua viagem",
    "pt" -> "o gato dorme na cadeira enquanto a avó faz tricô ao pé da janela",
    "pt" -> "é preciso levar o carro à oficina porque faz um barulho estranho desde ontem",
    "pt" -> "a música tocava tão alto que os vizinhos saíram para ver o que se passava na rua",
    "pt" -> "depois da tempestade o céu ficou limpo e conseguimos ver todas as estrelas",
    "pt" -> "o menino aprendeu a nadar este verão na piscina da aldeia com o primo",
    "pt" -> "precisamos de comprar pão e leite antes que as lojas do centro fechem",
    "pt" -> "embora fosse tarde continuámos a falar dos velhos tempos até de madrugada",
    "pt" -> "a empresa anunciou que vai abrir uma fábrica nova perto da fronteira",
    "pt" -> "todos os anos as famílias juntam-se na praça para celebrar a festa da aldeia",
    "pt" -> "a vizinha disse-me que o autocarro demora uns vinte minutos a chegar ao centro",
    "pt" -> "é preciso beber muita água quando se faz desporto nos dias de calor",
    "pt" -> "o avô descansa uns minutos depois do almoço e depois sai para caminhar",
    "pt" -> "a minha mãe preparou uma sopa de legumes e todos pediram mais um pouco",
    "pt" -> "o jogo acabou tarde e voltámos para casa a pé debaixo da chuva",
    "pt" -> "ela estuda à noite porque durante o dia trabalha na loja",
    "pt" -> "diz-me se precisas de mais alguma coisa antes de eu sair para o aeroporto",
    "pt" -> "os trabalhadores pedem melhores horários e uma pausa mais longa ao meio-dia")

  def main(args: Array[String]): Unit = {
    val nBuckets = 256
    val salt = 29
    val epochs = 1500
    val lr = 3.0
    val l2 = 1e-4
    val spark = graft.core.Tables.localSession(8)
    import spark.implicits._

    val langs = Corpus.map(_._1).distinct.sorted
    val docs = Corpus.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "lang", "text")
    // the EXACT feature pipeline of TextOps.langIdTrigram, so the
    // frozen weights see the same buckets the engine and oracle score
    val feats = docs
      .select(col("doc_id"), col("lang"), lower(col("text")).as("_t"))
      .filter(length(col("_t")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), length(col("_t")) - 2),
          j => col("_t").substr(j, lit(3)))).as("gram"))
      .withColumn("b", pmod(graft.text.Dedup.h64(col("gram"), salt),
        lit(nBuckets.toLong)))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(collect_list(struct(col("b"), col("c"))).as("f"),
        sum(col("c")).as("n"))
      .collect()
      .map { r =>
        val f = r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => (x.getLong(0).toInt, x.getLong(1).toDouble)).toArray
        (langs.indexOf(r.getString(1)), f, r.getLong(3).toDouble)
      }
    val nDocs = feats.length
    val k = langs.length
    println(s"// training on $nDocs docs, ${langs.mkString("/")}")

    val w = Array.fill(k, nBuckets)(0.0)
    val w0 = new Array[Double](k)
    def scores(f: Array[(Int, Double)], n: Double): Array[Double] =
      Array.tabulate(k)(c =>
        w0(c) + f.map { case (b, x) => w(c)(b) * x / n }.sum)
    def acc(): Double = feats.count { case (y, f, n) =>
      val s = scores(f, n); s.indexOf(s.max) == y
    }.toDouble / nDocs
    for (ep <- 1 to epochs) {
      val gw = Array.fill(k, nBuckets)(0.0)
      val g0 = new Array[Double](k)
      feats.foreach { case (y, f, n) =>
        val s = scores(f, n)
        val mx = s.max
        val e = s.map(v => math.exp(v - mx))
        val z = e.sum
        var c = 0
        while (c < k) {
          val g = e(c) / z - (if (c == y) 1.0 else 0.0)
          g0(c) += g
          f.foreach { case (b, x) => gw(c)(b) += g * x / n }
          c += 1
        }
      }
      var c = 0
      while (c < k) {
        var b = 0
        while (b < nBuckets) {
          w(c)(b) -= lr * (gw(c)(b) / nDocs + l2 * w(c)(b))
          b += 1
        }
        w0(c) -= lr * g0(c) / nDocs
        c += 1
      }
      if (ep % 250 == 0)
        println(f"// epoch $ep%4d train accuracy ${acc()}%.4f")
    }
    println(s"// TrainLangIdTrigram(buckets=$nBuckets, salt=$salt, " +
      s"epochs=$epochs, lr=$lr, l2=$l2); final train accuracy ${acc()}")
    println(s"  val Langs: Seq[String] = Seq(${langs.map("\"" + _ + "\"").mkString(", ")})")
    println(s"  val NBuckets: Int = $nBuckets")
    println(s"  val Salt: Int = $salt")
    println(s"  val Intercepts: Array[Double] = Array(${w0.mkString(", ")})")
    println("  val W: Array[Array[Double]] = Array(")
    w.zipWithIndex.foreach { case (wc, ci) =>
      println("    Array(")
      wc.grouped(4).foreach { g =>
        println("      " + g.map(_.toString).mkString(", ") + ",")
      }
      println(if (ci == w.length - 1) "    ))" else "    ),")
    }
    spark.stop()
  }
}

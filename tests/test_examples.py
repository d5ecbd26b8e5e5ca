"""Reference example programs (/root/reference/examples/*.pql) run as
conformance tests — complete programs a reference user ships, covering
control flow + vectorization + joins + aggregation end to end.
Adaptations are noted inline (e.g. the primes example's infinite loop
is bounded)."""

import pytest


@pytest.fixture()
def ex(spark):
    from preql_spark.engine import Engine
    return Engine(spark)


def test_fizzbuzz(ex):
    """examples/fizzbuzz.pql verbatim (print replaced by a binding)."""
    ex.q('''
func fizz(i) {
    if (i % 3 == 0) {
        return "Fizz"
    } else {
        return ""
    }
}

func buzz(i) {
    if (i % 5 == 0) {
        return "Buzz"
    } else {
        return ""
    }
}

func fizzbuzz(i) = (fizz(i) + buzz(i)) or string(i)

out = [1..16] {n: item, fb: fizzbuzz(item)}
''')
    got = {r.n: r.fb for r in ex.q("out").collect()}
    assert got == {1: "1", 2: "2", 3: "Fizz", 4: "4", 5: "Buzz",
                   6: "Fizz", 7: "7", 8: "8", 9: "Fizz", 10: "Buzz",
                   11: "11", 12: "Fizz", 13: "13", 14: "14",
                   15: "FizzBuzz"}


def test_primes(ex):
    """examples/primes.pql with the infinite search bounded to the
    first 10 primes (the original runs forever by design); exercises
    table truthiness (`not primes`), while loops, is_empty selection,
    commit(), and fmt()."""
    ex.q('''
table primes {
    num: int
}

func find_primes(up_to) {
    if (not primes) {
        new primes(2)
        new primes(3)
    }

    n = max(primes{num})

    while (count(primes) < up_to) {
        n = n + 2

        if (is_empty(primes[n % num == 0])) {
            new primes(n)
            commit()
        }
    }
}

find_primes(10)
''')
    got = sorted(r.num for r in ex.q("primes").collect())
    assert got == [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]
    # fault tolerance: calling again resumes from the stored state
    ex.q("find_primes(12)")
    got = sorted(r.num for r in ex.q("primes").collect())
    assert got == [2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37]


def test_matrices(ex):
    """examples/matrices.pql: matrix multiply as a join-by-column with
    a grouped dotted-key aggregation."""
    ex.q('''
func matrix_from_list(M, width) {
    return enum(M) {
        row: int(index / width)
        col: index % width
        value: item
    }
}

func mult_matrices(A, B) {
    return join(a: A.col, b: B.row) {
        a.row, b.col => value: sum(a.value * b.value)
    }
}

M1 = [-1, 0, 6,
       2, 5, 1]
m1 = matrix_from_list(M1, 3)

M2 = [2, -4, 9, 3,
      0, 5,  1, 2,
      3, 6, -1, 1]
m2 = matrix_from_list(M2, 4)

prod = mult_matrices(m1, m2)
''')
    got = {(r.row, r.col): r.value for r in ex.q("prod").collect()}
    assert got == {(0, 0): 16, (0, 1): 40, (0, 2): -15, (0, 3): 3,
                   (1, 0): 7, (1, 1): 23, (1, 2): 22, (1, 3): 17}


def test_tree(ex):
    """examples/tree.pql: self-FK tree, user-defined bfs via SQL $self
    recursion (UNION-dedup spelling), graph module walk_tree, path /
    descendant queries.  Adaptation: most-common-ancestor picks the
    minimum walk rank instead of relying on the engine's recursion row
    order (the reference leans on sqlite's discovery order)."""
    ex.q('''
import graph

table Tree {
    value: string
    parent: Tree?
}

animal = new Tree("Animal", null)
mammal = new Tree("Mammal", animal)
dog = new Tree("Dog", mammal)
new Tree("Golden Retriever", dog)
new Tree("Lion", mammal)
new Tree("Fish", animal)

func bfs(edges: table, initial: table) {
    "Performs a breadth-first search on a graph"
    bfs = SQL(list[int], "SELECT * FROM $initial UNION SELECT e.dst FROM $edges e JOIN $self bfs ON e.src = bfs.item")
    return SQL(list[int], "SELECT bfs.item FROM $bfs bfs")
}

roots = Tree[parent == null]
edges_downwards = Tree{
    src: parent
    dst: id
}
edges_upwards = Tree{
    src: id
    dst: parent
}

func get_trees(ids: list[int]) {
    "Return a list of tree rows from a given list of ids"
    return join(_: ids.item, t: Tree.id){
        t.id
        t.value
    }
}

func find_path_to_root(initial: table) {
    "Find all nodes connecting the given nodes to the root"
    path_to_root = bfs(edges_upwards, initial{id})
    return get_trees(path_to_root)
}

func find_descendants(initial: table) {
    "Find all descendants of given nodes"
    descendants_ids = bfs(edges_downwards, initial{id})[item !in initial{id}]
    return get_trees(descendants_ids)
}

func is_a(a: string, b: string) {
    return b in find_path_to_root(Tree[value == a]){value}
}
''')
    # hierarchy via the graph module's walk_tree (print_hierarchy)
    hier = ex.q('nodes_by_rank = graph.walk_tree(edges_downwards,'
                ' roots{id}, 1000)\n'
                'join(r: nodes_by_rank.id, t: Tree.id)'
                ' { hierarchy: repeat(" ", r.rank*2) + t.value }')
    got = sorted(r.hierarchy for r in hier.collect())
    assert got == sorted([
        "Animal", "  Mammal", "    Dog", "      Golden Retriever",
        "    Lion", "  Fish"])

    assert ex.q('is_a("Dog", "Animal")') is True
    assert ex.q('is_a("Dog", "Mammal")') is True
    assert ex.q('is_a("Fish", "Mammal")') is False
    assert ex.q('is_a("Dog", "Lion")') is False

    mammals = ex.q('find_descendants(Tree[value == "Mammal"])')
    assert sorted(r.value for r in mammals.collect()) \
        == ["Dog", "Golden Retriever", "Lion"]

    # common ancestors + closest by minimum upward walk rank
    ex.q('''
func common_ancestors(a: string, b: string) {
    path_a = find_path_to_root(Tree[value == a])
    path_b = find_path_to_root(Tree[value == b])
    return join(a: path_a.id, b: path_b.id){
        a.id
        a.value
    }
}

func closest_ancestor(a: string, b: string) {
    ranked = graph.walk_tree(edges_upwards, Tree[value == a]{id}, 1000)
    common = common_ancestors(a, b)
    ranked_common = join(r: ranked.id, c: common.id) order {r.rank} {c.value}
    return first_or_null(ranked_common{value})
}
''')
    assert sorted(r.value for r in
                  ex.q('common_ancestors("Dog", "Lion")').collect()) \
        == ["Animal", "Mammal"]
    assert ex.q('closest_ancestor("Dog", "Lion")') == "Mammal"
    assert ex.q('closest_ancestor("Dog", "Mammal")') == "Mammal"
    assert ex.q('closest_ancestor("Dog", "Fish")') == "Animal"
    assert ex.q('closest_ancestor("Dog", "Alien") == null') is True


def test_movie_recommender(ex, tmp_path):
    """examples/movie_recommender.pql with a small synthetic MovieLens
    stand-in (the original downloads ml-latest-small; the algorithm,
    csv import into declared FK tables, line continuations, and the
    join/aggregation pipeline are verbatim).  Adaptation: the final
    join spells its key (join-by-column) — FK metadata does not
    propagate through struct-join outputs here."""
    ratings_csv = tmp_path / "ratings.csv"
    ratings_csv.write_text(
        "userId,movieId,rating,timestamp\n"
        "1,1,5.0,0\n1,2,4.0,0\n1,3,5.0,0\n"
        "2,1,1.0,0\n2,3,2.0,0\n2,4,5.0,0\n"
        "3,2,3.0,0\n3,4,4.0,0\n")
    movies_csv = tmp_path / "movies.csv"
    movies_csv.write_text(
        "movieId,title,genres\n"
        "1,Toy Story,Animation\n2,Jumanji,Adventure\n"
        "3,Heat,Crime\n4,Casino,Drama\n")
    ex.q(f'''
table movies {{
    movieId: int
    title: string
    genres: string
}}

table ratings {{
    userId: int
    movieId: movies.movieId
    rating: float
    timestamp: int
}}

import_csv(ratings, "{ratings_csv}", true)
import_csv(movies, "{movies_csv}", true)

func recommend(liked_movie_ids) {{
    liked_ratings = ratings[movieId in liked_movie_ids]

    user_similarity = liked_ratings {{
        userId
          =>
        similarity_score: sum(rating)
    }}

    unseen_ratings = ratings[movieId !in liked_movie_ids]

    unseen_ratings_with_similarity = \\
        join(
            rating: unseen_ratings.userId,
            rater: user_similarity.userId
        ) {{
            rater.similarity_score
            ...rating
        }}

    movie_score = unseen_ratings_with_similarity {{
        movieId
          =>
        score: sum(similarity_score * rating)
    }}

    return movie_score order {{ ^score }}
}}
''')
    r = ex.q("recommend([1, 2])")
    got = [(x.movieId, x.score) for x in r.collect()]
    # u1 similarity 9, u2 1, u3 3 → Heat: 9*5+1*2=47, Casino: 1*5+3*4=17
    assert got == [(3, 47.0), (4, 17.0)]
    # a join keeps no row order: rank by score before taking the top
    titles = ex.q('join(s: recommend([1, 2]).movieId, m: movies.movieId)'
                  ' order { ^s.score } { Movie: "* " + m.title } [..1]')
    assert [x.Movie for x in titles.collect()] == ["* Heat"]


def test_simple2_implicit_joins(ex):
    """tests/simple2.pql — the reference's implicit-join showcase.
    Its own test (test_basic.py test_simple2) is SKIPPED upstream
    ("Not ready yet"); this engine runs the fixture: FK traversal in
    selections, projections, and group keys, backref counts and
    collections, FK auto-join of a filtered dimension."""
    ex.q('''
table Country {
    name: string
    language: string
}

table Person {
    name: string
    country: Country -> citizens
}

isr = new Country("Israel", "he")
eng = new Country("England", "en")
us = new Country("United States", "en")

me = new Person("Erez Shinan", isr)
new Person("Ephraim Kishon", isr)
new Person("Eric Blaire", eng)
new Person("H.G. Wells", eng)
new Person("John Steinbeck", us)
''')
    # FK traversal in a selection
    rows = ex.q('Person[country.language == "en"]{name}').collect()
    assert sorted(r.name for r in rows) == \
        ["Eric Blaire", "H.G. Wells", "John Steinbeck"]
    # traversal in a projection (auto-named by the last attribute)
    rows = ex.q('Person {name, country.language}').collect()
    assert {(r.name, r.language) for r in rows} == {
        ("Erez Shinan", "he"), ("Ephraim Kishon", "he"),
        ("Eric Blaire", "en"), ("H.G. Wells", "en"),
        ("John Steinbeck", "en")}
    # group by language, names as arrays
    rows = ex.q('Country {language => name}').collect()
    got = {r.language: sorted(r.name) for r in rows}
    assert got == {"he": ["Israel"],
                   "en": ["England", "United States"]}
    # traversal as a GROUP KEY
    rows = ex.q('Person {country.name => count(id)}').collect()
    assert {(r.name, r["count"]) for r in rows} == {
        ("Israel", 2), ("England", 2), ("United States", 1)}
    # backref count and collection
    rows = ex.q('Country {name => count(citizens)}').collect()
    assert {(r.name, r["count"]) for r in rows} == {
        ("Israel", 2), ("England", 2), ("United States", 1)}
    rows = ex.q('Country {name => citizens.name}').collect()
    got = {r[0]: sorted(r[1]) for r in rows}
    assert got["Israel"] == ["Ephraim Kishon", "Erez Shinan"]
    # FK auto-join with a filtered dimension
    j = ex.q('join(c: Country[language == "en"], p: Person)'
             '{ p.name, country: c.name }')
    assert {(r.name, r.country) for r in j.collect()} == {
        ("Eric Blaire", "England"), ("H.G. Wells", "England"),
        ("John Steinbeck", "United States")}

def test_chinook_joins(ex, tmp_path):
    """examples/chinook.pql — FK-attaching partial redeclaration over
    already-imported tables (`table albums {ArtistId: artists.ArtistId,
    ...}`), pure-reflect `table genres {...}`, then the 4-way FK
    auto-join with position-aware ellipsis exclusions and derived
    projections over excluded source columns.  The sqlite source is
    replaced by local CSVs (same columns as the Chinook schema)."""
    (tmp_path / "artists.csv").write_text(
        "ArtistId,Name\n1,AC/DC\n2,Accept\n")
    (tmp_path / "albums.csv").write_text(
        "AlbumId,Title,ArtistId\n"
        "1,For Those About To Rock,1\n2,Balls to the Wall,2\n"
        "3,Restless and Wild,2\n")
    (tmp_path / "genres.csv").write_text(
        "GenreId,Name\n1,Rock\n2,Jazz\n")
    (tmp_path / "tracks.csv").write_text(
        "TrackId,Name,AlbumId,GenreId,Milliseconds,Bytes\n"
        "1,For Those About To Rock (We Salute You),1,1,343719,11170334\n"
        "2,Balls to the Wall,2,1,342562,5510424\n"
        "3,Fast As a Shark,3,1,230619,3990994\n"
        "4,Restless and Wild,3,2,252051,4331779\n")
    ex.q(f'''
import_csv("artists", "{tmp_path / 'artists.csv'}", true)
import_csv("albums", "{tmp_path / 'albums.csv'}", true)
import_csv("genres", "{tmp_path / 'genres.csv'}", true)
import_csv("tracks", "{tmp_path / 'tracks.csv'}", true)

table genres {{...}}

table albums {{
    ArtistId: artists.ArtistId
    ...
}}

table tracks {{
    AlbumId: albums.AlbumId,
    GenreId: genres.GenreId
    ...
}}

tracks_joined = join(art: artists, alb: albums, t: tracks, g: genres) {{
    ...t !GenreId !AlbumId !TrackId
    Artist: art.Name
    Album: alb.Title
    Genre: g.Name
}}

tracks_pretty = tracks_joined {{
    ... !Milliseconds !Bytes
    Seconds: Milliseconds / 1000
    MB: Bytes / 1024 / 1024
}}
''')
    rows = ex.q('tracks_joined order {Name}').collect()
    assert [(r.Name, r.Artist, r.Album, r.Genre) for r in rows] == [
        ("Balls to the Wall", "Accept", "Balls to the Wall", "Rock"),
        ("Fast As a Shark", "Accept", "Restless and Wild", "Rock"),
        ("For Those About To Rock (We Salute You)", "AC/DC",
         "For Those About To Rock", "Rock"),
        ("Restless and Wild", "Accept", "Restless and Wild", "Jazz"),
    ]
    pretty = ex.q('tracks_pretty order {Name}')
    cols = pretty.columns
    assert "Milliseconds" not in cols and "Bytes" not in cols
    r0 = pretty.collect()[0]
    assert r0.Seconds == 342562 // 1000 or abs(r0.Seconds - 342.562) < 1

def test_airports(ex, tmp_path):
    """examples/airports.pql — import_json of a JSON-array document
    into a new table, ellipsis exclusions, order by ^elev, group-count.
    The gist download is replaced by a local file with the same record
    shape."""
    import json
    data = [
        {"code": "BPX", "lat": 31.1442, "lon": 97.174, "elev": 14219,
         "name": "Bangda Airport", "city": "Qamdo", "state": "Tibet",
         "country": "China", "url": "", "tz": "Asia/Shanghai",
         "phone": "", "email": "", "type": "airport"},
        {"code": "LPB", "lat": -16.5094, "lon": -68.1906, "elev": 13325,
         "name": "El Alto International Airport", "city": "La Paz",
         "state": "La Paz", "country": "Bolivia", "url": "", "tz": "",
         "phone": "", "email": "", "type": "airport"},
        {"code": "JUL", "lat": -15.4642, "lon": -70.1544, "elev": 12552,
         "name": "Juliaca Airport", "city": "Juliaca", "state": "Puno",
         "country": "Peru", "url": "", "tz": "", "phone": "",
         "email": "", "type": "airport"},
        {"code": "CUZ", "lat": -13.5308, "lon": -71.9472, "elev": 10860,
         "name": "Velazco Astete Airport", "city": "San Sebastián",
         "state": "Cusco", "country": "Peru", "url": "", "tz": "",
         "phone": "", "email": "", "type": "airport"},
    ]
    p = tmp_path / "airports.json"
    p.write_text(json.dumps(data))
    ex.q(f'''
import_json("airports", "{p}")

airports_short = airports{{... !url !tz !phone !email !type}}

airports_by_highest = airports order {{^elev}}

airports_by_country = airports {{country => airport_count: count()}} \\
    order {{^airport_count}}
''')
    short_cols = ex.q("airports_short").columns
    assert not {"url", "tz", "phone", "email", "type"} & set(short_cols)
    assert {"code", "elev", "country"} <= set(short_cols)
    highest = ex.q("airports_by_highest {code}").collect()
    assert [r.code for r in highest] == ["BPX", "LPB", "JUL", "CUZ"]
    bc = ex.q("airports_by_country").collect()
    assert [(r.country, r.airport_count) for r in bc[:1]] == [("Peru", 2)]

def test_bigquery_covid19(ex):
    """examples/bigquery_covid19.pql — import_table() reflection of a
    warehouse catalog table, then the grouped positive-rate query
    verbatim.  The BigQuery public dataset is replaced by a local temp
    view with the same columns (Spark's session catalog plays the
    warehouse role)."""
    ex.spark.createDataFrame(
        [("US", 100.0, 1000.0), ("US", 200.0, 1500.0),
         ("IL", 50.0, 100.0), ("IL", 25.0, 200.0),
         ("GB", 0.0, 0.0)],
        "country_code string, cumulative_confirmed double,"
        " cumulative_tested double",
    ).createOrReplaceTempView("covid19_open_data")
    ex.q('covid19 = import_table("covid19_open_data")')
    r = ex.q('''covid19[cumulative_tested > 0]{
    country_code => confirmed_ratio: sum(cumulative_confirmed) / sum(cumulative_tested)
} order {^confirmed_ratio}''')
    got = [(x.country_code, round(x.confirmed_ratio, 3))
           for x in r.collect()]
    assert got == [("IL", 0.25), ("US", 0.12)]


def test_simple1_selection_functions(ex):
    """Ported reference test_simple1 (test_basic.py:1111-1124) +
    tests/simple1.pql fixture: selection via user functions,
    table-valued function parameters (`_table_func(t, c)` takes a
    TABLE argument), ordered projections, grouped count with order."""
    ex.q('''
table Person {
    name: string
    country: string
}

new Person("Erez Shinan", "Israel")
new Person("Eric Blaire", "England")
new Person("H.G. Wells", "England")

english = Person[country=="England"] {id, name}
func by_country(c) = Person[country==c]
english2 = by_country("England") order{^name} {name}

func _table_func(t, c) = t[country==c]
func _f2(t) = _table_func(t, "Israel")
f3 = _f2(Person) {name}

demography = Person {country => population: count(id)} order {^population}
''')
    assert {r.name for r in ex.q("english").collect()} == \
        {"Eric Blaire", "H.G. Wells"}
    assert [r.name for r in ex.q('by_country("Israel")').collect()] == \
        ["Erez Shinan"]
    assert [r.name for r in ex.q("english2").collect()] == \
        ["H.G. Wells", "Eric Blaire"]
    assert [r.name for r in ex.q("f3").collect()] == ["Erez Shinan"]
    assert [(r.country, r.population)
            for r in ex.q("demography").collect()] == \
        [("England", 2), ("Israel", 1)]
